"""Unit semantics for the round-8 operators: entropy/readability/
vocabulary quality signals, containment near-dup, centroid training,
and the portable per-stratum sample. (Oracle parity for each runs in
tests/test_correctness.py via the registry.)"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_char_entropy_known_values(spark):
    from openset_spark.pipeline.textstats import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in char_entropy(df).collect()}
    assert rows[1].entropy_bits == 0.0  # single symbol
    assert rows[2].entropy_bits == 1.0  # two equiprobable
    assert rows[3].entropy_bits == 2.0  # four equiprobable
    assert rows[3].n_chars == 4


def test_char_entropy_counts_normalized_chars(spark):
    from openset_spark.pipeline.textstats import char_entropy

    # normalize() collapses whitespace: "a  b" -> "a b" (3 chars)
    df = spark.createDataFrame([(1, "A  b")], ["doc_id", "text"])
    r = char_entropy(df).collect()[0]
    assert r.n_chars == 3
    expected = round(-(2 / 3) * math.log2(1 / 3) - (1 / 3) * math.log2(1 / 3), 4)
    assert r.entropy_bits == pytest.approx(expected, abs=1e-4)


def test_readability_formula_and_floor(spark):
    from openset_spark.pipeline.textstats import readability

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat."), (2, "word soup no punct")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in readability(df).collect()}
    r1 = rows[1]
    assert (r1.n_words, r1.n_sentences) == (6, 1)
    grade = 0.39 * 6 / 1 + 11.8 * r1.n_syllables / 6 - 15.59
    assert r1.fk_grade == pytest.approx(grade, abs=0.006)
    assert rows[2].n_sentences == 1  # floored, no div-by-zero


def test_vocab_growth_distinct_is_corpus_wide(spark):
    from openset_spark.pipeline.textstats import vocab_growth

    # two docs in one group sharing a token: distinct counts the
    # group vocabulary, not the sum of per-doc distincts
    df = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a d", "s1"), (3, "x x", "s2")],
        ["doc_id", "text", "source"],
    )
    rows = {r.source: r for r in vocab_growth(df).collect()}
    assert rows["s1"].total_tokens == 5
    assert rows["s1"].distinct_tokens == 4  # a b c d
    assert rows["s2"].total_tokens == 2
    assert rows["s2"].distinct_tokens == 1
    assert rows["s2"].type_token_ratio == 0.5


def test_embedding_centroids_exact(spark):
    from openset_spark.pipeline.similarity import embedding_centroids

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [3.0, 2.0], 0),
            (2, [5.0, 5.0], 1),
        ],
        ["vec_id", "embedding", "label"],
    )
    rows = {(r.label, r.dim): r.centroid for r in embedding_centroids(df).collect()}
    assert rows[(0, 0)] == 2.0 and rows[(0, 1)] == 1.0
    assert rows[(1, 0)] == 5.0 and rows[(1, 1)] == 5.0


def test_containment_catches_subset_jaccard_misses(spark):
    from openset_spark.pipeline.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"  # 6 tokens, 2 5-grams
    filler = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, short),
            (2, short + " " + filler),  # contains doc 1 verbatim
            (3, filler),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.id_a, r.id_b): r
        for r in containment_pairs(df, n=5, threshold=0.8).collect()
    }
    # doc1 ⊂ doc2: containment 1.0 though Jaccard is ~2/42
    assert (1, 2) in out and out[(1, 2)].containment == 1.0
    # doc3 ⊂ doc2 as well (the filler run)
    assert (2, 3) in out
    assert (1, 3) not in out


def test_containment_df_cap_drops_boilerplate(spark):
    from openset_spark.pipeline.dedup import containment_pairs

    # one shared 5-token boilerplate across many docs + unique tails:
    # with a small cap the hot shingle is dropped and no pair forms
    boiler = "b1 b2 b3 b4 b5"
    rows = [(i, boiler + f" u{i}a u{i}b u{i}c u{i}d") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = containment_pairs(df, n=5, threshold=0.1, max_shingle_df=5)
    assert capped.count() == 0
    uncapped = containment_pairs(df, n=5, threshold=0.1, max_shingle_df=100)
    assert uncapped.count() > 0


def test_sample_per_stratum_exact_k_and_partition_invariance(spark):
    from openset_spark.pipeline.sampling import sample_per_stratum

    df = spark.createDataFrame(
        [(i, f"t{i}", ["en", "de"][i % 2]) for i in range(40)],
        ["doc_id", "text", "lang"],
    )
    out = sample_per_stratum(df, ["lang"], k=4).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert all(len(v) == 4 for v in by_lang.values())
    # deterministic under different partitioning
    out2 = sample_per_stratum(df.repartition(13), ["lang"], k=4).collect()
    assert {r.doc_id for r in out2} == {r.doc_id for r in out}
    # strata smaller than k keep everything
    tiny = sample_per_stratum(df.filter(F.col("doc_id") < 3), ["lang"], k=4)
    assert tiny.count() == 3


def test_containment_matches_bruteforce_reference(spark):
    # property check vs a plain-Python reference on a seeded corpus:
    # same shingling, same df cap, same containment formula
    import numpy as np

    from openset_spark.pipeline.dedup import containment_pairs

    rng = np.random.default_rng(99)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for i in range(30):
        n = int(rng.integers(5, 25))
        docs.append((i, " ".join(rng.choice(vocab, n))))
    # inject a guaranteed subset pair
    docs.append((100, docs[0][1] + " extra tokens here now"))

    n_, thr, cap = 4, 0.5, 8

    def sh(text):
        toks = text.split()
        if len(toks) < n_:
            return set()
        return {" ".join(toks[i : i + n_]) for i in range(len(toks) - n_ + 1)}

    sets = {i: sh(t) for i, t in docs if len(t.split()) >= n_}
    from collections import Counter

    df_count = Counter(g for s in sets.values() for g in s)
    capped = {
        i: {g for g in s if df_count[g] <= cap} for i, s in sets.items()
    }
    expect = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            shared = len(capped[a] & capped[b])
            if not shared:
                continue
            cont = shared / min(len(sets[a]), len(sets[b]))
            if cont >= thr:
                expect[(a, b)] = shared

    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.shared
        for r in containment_pairs(
            sdf, n=n_, threshold=thr, max_shingle_df=cap
        ).collect()
    }
    assert got == expect


def test_semantic_dedup_drops_within_cluster_twins(spark):
    from openset_spark.pipeline.similarity import semantic_dedup

    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    # 4 well-separated cluster centers; a few near-identical twins
    centers = [rng.normal(size=8) * 10 for _ in range(4)]
    twin_of = {}
    for ci, c in enumerate(centers):
        for j in range(6):
            v = c + rng.normal(scale=0.5, size=8)
            rows.append((vid, [float(x) for x in v]))
            if j == 0:
                first = vid
            vid += 1
        # exact twin of the cluster's first vector
        twin = [float(x) for x in np.array(rows[first][1]) * 1.0]
        rows.append((vid, twin))
        twin_of[vid] = first
        vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # exact twins have cosine 1.0; noisy cluster-mates sit near
    # 1 - (noise/|center|)^2/2 ~ 0.998 — threshold splits them
    kept, pairs = semantic_dedup(
        df, threshold=0.99999, n_lists=4, refine_iters=3
    )
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    pair_set = {(r.id_a, r.id_b) for r in pairs.collect()}
    for twin, orig in twin_of.items():
        assert (orig, twin) in pair_set  # found despite clustering
        assert twin not in kept_ids  # larger id dropped
        assert orig in kept_ids  # keeper survives
    # non-duplicates survive
    assert len(kept_ids) == len(rows) - len(twin_of)


# ---- late-r8 operators: zipf_fit / kneser_ney / dup spans / tags ----


def test_zipf_fit_exact_power_law(spark):
    from openset_spark.pipeline.corpus_stats import zipf_fit

    # counts c_r = 120/r for ranks 1..5: ln c = ln 120 - 1*ln r, an
    # EXACTLY linear sample, so the OLS slope must come out -1.0
    counts = {"w%d" % r: 120 // r for r in (1, 2, 3, 4, 5)}
    text = " ".join(w for w, c in sorted(counts.items()) for _ in range(c))
    df = spark.createDataFrame([(text, "s1")], ["text", "source"])
    row = zipf_fit(df, top_r=100).collect()[0]
    assert row.n_ranks == 5
    assert row.slope == -1.0
    assert abs(row.intercept - round(math.log(120), 4)) <= 1e-4


def test_zipf_fit_single_rank_null_slope(spark):
    from openset_spark.pipeline.corpus_stats import zipf_fit

    df = spark.createDataFrame([("only only only", "s1")], ["text", "source"])
    row = zipf_fit(df).collect()[0]
    assert row.n_ranks == 1 and row.slope is None and row.intercept is None


def test_kneser_ney_hand_check(spark):
    from openset_spark.pipeline.lm import kneser_ney_score

    # train: "a b a b a c"  ->  bigram types: (a,b)x2, (b,a)x1, (a,c)x1
    # ctx a: c1=3 n1fw=2 ; ctx b: c1=1 n1fw=1
    # cont b: n1bw=1 ; cont a: n1bw=1 ; cont c: n1bw=1
    # totals: n1all=3 types, v=3 distinct w2
    train = spark.createDataFrame([(100, "a b a b a c")], ["doc_id", "text"])
    docs = spark.createDataFrame([(1, "a b"), (2, "z q")], ["doc_id", "text"])
    out = {r.doc_id: r for r in kneser_ney_score(docs, train).collect()}
    pc_b = (1 + 1) / (3 + 3)
    p_ab = (max(2 - 0.75, 0) + 0.75 * 2 * pc_b) / 3
    assert out[1].avg_logp_kn == round(math.log(p_ab), 4)
    # unseen context AND unseen word: continuation floor 1/(n1all+v)
    assert out[2].avg_logp_kn == round(math.log(1 / 6), 4)


def test_kneser_ney_probs_sum_below_one(spark):
    from openset_spark.pipeline.lm import kneser_ney_score

    train = spark.createDataFrame(
        [(100, "a b a b a c b c a b")], ["doc_id", "text"]
    )
    # every bigram over the seen vocab, one per doc
    vocab = ["a", "b", "c"]
    docs = spark.createDataFrame(
        [(i * 10 + j, f"{w1} {w2}") for i, w1 in enumerate(vocab)
         for j, w2 in enumerate(vocab)],
        ["doc_id", "text"],
    )
    rows = kneser_ney_score(docs, train).collect()
    assert all(r.avg_logp_kn < 0 for r in rows)
    # per seen context, sum over seen-vocab continuations is <= 1
    # (can hit exactly 1 when the seen vocab exhausts the continuation
    # mass, as here); slack covers the round-4 on avg_logp_kn
    by_ctx = {}
    for r in rows:
        ctx = vocab[(r.doc_id // 10)]
        by_ctx.setdefault(ctx, 0.0)
        by_ctx[ctx] += math.exp(r.avg_logp_kn)
    for ctx, total in by_ctx.items():
        assert total <= 1.0 + 3 * 5e-5, (ctx, total)


def test_dup_span_fraction_shared_run(spark):
    from openset_spark.pipeline.dedup import dup_span_fraction

    shared = " ".join(f"t{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            (1, shared + " ua ub uc"),          # 4 windows, 1 shared
            (2, "va " + shared),                # 2 windows, 1 shared
            (3, " ".join(f"z{i}" for i in range(25))),  # all unique
            (4, "short doc"),                   # < 20 tokens: excluded
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dup_span_fraction(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_windows == 4 and out[1].n_dup_windows == 1
    assert out[2].n_windows == 2 and out[2].n_dup_windows == 1
    assert out[2].dup_frac == 0.5
    assert out[3].n_dup_windows == 0 and out[3].dup_frac == 0.0


def test_keyword_tags_semantics(spark):
    from openset_spark.pipeline.textstats import keyword_tags

    lex = {"pets": ["cat", "dog"], "food": ["fish", "cat"]}
    df = spark.createDataFrame(
        [
            (1, "my cat saw a dog"),   # cat tags both topics
            (2, "fish fish fish"),
            (3, "nothing relevant"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in keyword_tags(df, lex).collect()}
    assert out[1].topics == ["food", "pets"]
    assert out[1].n_hit_words == 2  # cat counted once despite 2 topics
    assert out[2].topics == ["food"] and out[2].n_hit_words == 1
    assert out[3].topics == [] and out[3].n_hit_words == 0


def test_leakage_safe_split_family_atomic(spark):
    from openset_spark.pipeline.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in range(300)], ["doc_id"]
    )
    # three families: {0..4}, {10,11}, {20,21,22} via chain pairs
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    out = leakage_safe_split(docs, pairs).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 300
    # family atomicity: one split and one cluster id per family
    for fam in ([0, 1, 2, 3, 4], [10, 11], [20, 21, 22]):
        splits = {by_id[d].split for d in fam}
        clusters = {by_id[d].cluster_id for d in fam}
        assert len(splits) == 1 and clusters == {fam[0]}
    # singletons keep their own id and get valid labels
    assert by_id[100].cluster_id == 100
    labels = {r.split for r in out}
    assert labels <= {"train", "val", "test"}
    # fractions roughly honored over the 300 mostly-singleton docs
    n_train = sum(1 for r in out if r.split == "train")
    assert 230 <= n_train <= 300


def test_leakage_safe_split_validates_fractions(spark):
    from openset_spark.pipeline.sampling import leakage_safe_split

    docs = spark.createDataFrame([(1,)], ["doc_id"])
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    with pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(docs, pairs, {"train": 0.5, "test": 0.1})
    with pytest.raises(ValueError, match="pairs= or comps="):
        leakage_safe_split(docs)


def test_leakage_safe_split_comps_reuse_identical(spark):
    """comps= (a pre-materialized dup_clusters frame) must yield the
    exact assignment the pairs= path computes — chains that already
    ran component discovery pass it through instead of re-running the
    iterative CC job per consumer."""
    from openset_spark.pipeline.dedup import dup_clusters
    from openset_spark.pipeline.sampling import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(120)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (50, 51), (90, 91), (91, 92)], ["id_a", "id_b"]
    )
    via_pairs = {
        (r.doc_id, r.cluster_id, r.split)
        for r in leakage_safe_split(docs, pairs).collect()
    }
    comps = dup_clusters(pairs).localCheckpoint()
    via_comps = {
        (r.doc_id, r.cluster_id, r.split)
        for r in leakage_safe_split(docs, comps=comps).collect()
    }
    assert via_pairs == via_comps


def test_prepare_corpus_split_fractions(spark):
    """split_fractions= appends a leakage-safe split column; near-dup
    families that survive pairwise dedup stay split-atomic, and the
    component frame is shared with the keeper pass (transitive)."""
    from openset_spark.pipeline.compose import prepare_corpus

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(i, f"document number {i} tells a plain story about "
               f"weather and roads and rivers flowing down {i} " * 3)
            for i in range(40)]
    rows += [(100, base), (101, base.replace("lazy", "sleepy"))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_corpus(
        docs, min_quality=0.0, transitive=True,
        split_fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    got = out.collect()
    assert set(out.columns) >= {"doc_id", "split"}
    assert {r.split for r in got} <= {"train", "val", "test"}
    # cluster keeper ran: only one of the near-dup pair survives
    ids = {r.doc_id for r in got}
    assert 100 in ids and 101 not in ids
    # deterministic: second run assigns identically
    again = prepare_corpus(
        docs, min_quality=0.0, transitive=True,
        split_fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    ).collect()
    assert {(r.doc_id, r.split) for r in got} == {
        (r.doc_id, r.split) for r in again
    }
    # no near-dup pass: the split degrades to per-doc hash buckets
    solo = prepare_corpus(
        docs, min_quality=0.0, near_dup=False,
        split_fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    assert {r.split for r in solo.collect()} <= {"train", "val", "test"}


def test_gopher_quality_rule_semantics(spark):
    from openset_spark.pipeline.textstats import gopher_quality_flags

    good = " ".join(
        ["the", "be", "to", "of", "and"] + [f"word{i}" for i in range(60)]
    )
    df = spark.createDataFrame(
        [
            (1, good),                                # passes every rule
            (2, "too short of the text"),             # word-count fails
            (3, good + " " + "#" * 40),               # symbol ratio fails
            (4, " ".join(["123"] * 70)),              # alpha + stopwords fail
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert rows[1].keep is True
    assert rows[1].n_req_stopwords == 5
    assert rows[2].keep is False and rows[2].n_words == 5
    assert rows[3].keep is False and rows[3].symbol_ratio > 0.1
    assert rows[4].keep is False and rows[4].alpha_word_frac == 0.0


def test_gopher_ellipsis_counted_in_symbols(spark):
    from openset_spark.pipeline.textstats import gopher_quality_flags

    df = spark.createDataFrame(
        [(1, "plain words here"), (2, "some... trailing... dots...")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert rows[1].symbol_ratio == 0.0
    assert rows[2].symbol_ratio == 1.0  # 3 ellipses / 3 words


# ------------------------------------------------------------------
# lexical_diversity / oov_rate / chunk_windows / dsir resample key
# ------------------------------------------------------------------
def test_lexical_diversity_exact_counts(spark):
    from openset_spark.pipeline.textstats import lexical_diversity

    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "x x x x")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in lexical_diversity(df).collect()}
    r1 = rows[1]
    assert (r1.n_tokens, r1.n_types, r1.n_hapax) == (4, 3, 2)
    assert r1.ttr_x10k == 7500  # 3/4 exactly
    assert r1.hapax_x10k == 6666  # floor(2/3 * 10000)
    r2 = rows[2]
    assert (r2.n_types, r2.n_hapax, r2.ttr_x10k) == (1, 0, 2500)


def test_oov_rate_vocab_cut_deterministic(spark):
    from openset_spark.pipeline.corpus_stats import oov_rate

    # corpus counts: a=3, b=3, c=2, d=1 — vocab_size=2 must pick
    # (a, b): count ties break on token ASC
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "a b")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in oov_rate(df, vocab_size=2).collect()}
    assert rows[1].n_oov == 1 and rows[1].oov_x10k == 3333
    assert rows[2].n_oov == 2 and rows[2].oov_x10k == 5000
    assert rows[3].n_oov == 0 and rows[3].oov_x10k == 0


def test_chunk_windows_full_coverage(spark):
    from openset_spark.pipeline.packing import chunk_windows

    # 70 tokens, window 32 stride 16 -> starts 0,16,32,48,64;
    # every token lands in >=1 chunk, tail chunk short (len 6)
    text = " ".join(f"t{i}" for i in range(70))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_windows(df, window=32, stride=16).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [r.start_tok for r in rows] == [0, 16, 32, 48, 64]
    assert [r.chunk_len for r in rows] == [32, 32, 32, 22, 6]
    covered = set()
    for r in rows:
        covered |= set(range(r.start_tok, r.start_tok + r.chunk_len))
    assert covered == set(range(70))
    # identical windows hash identically, distinct ones don't
    assert len({r.chunk_hash for r in rows}) == 5


def test_chunk_windows_short_doc_single_chunk(spark):
    from openset_spark.pipeline.packing import chunk_windows

    df = spark.createDataFrame([(1, "a b c"), (2, "")], ["doc_id", "text"])
    rows = chunk_windows(df, window=32, stride=16).collect()
    assert len(rows) == 1  # empty doc excluded entirely
    assert rows[0].chunk_len == 3 and rows[0].chunk_id == 0


def test_dsir_gumbel_resample_reproducible(spark):
    from openset_spark.pipeline.dsir import dsir_select

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 3} common") for i in range(40)],
        ["doc_id", "text"],
    )
    target = docs.filter("doc_id % 4 = 0")
    a = dsir_select(docs, target, n=10, gumbel_seed=7).collect()
    b = dsir_select(
        docs.repartition(13), target, n=10, gumbel_seed=7
    ).collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    # different seed -> (almost surely) different sample
    c = dsir_select(docs, target, n=10, gumbel_seed=8).collect()
    assert {r.doc_id for r in a} != {r.doc_id for r in c}


# ------------------------------------------------------------------
# embedding_gram
# ------------------------------------------------------------------
def test_embedding_gram_exact_small(spark):
    from openset_spark.pipeline.similarity import embedding_gram

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0, 6.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {(r.i, r.j): r for r in embedding_gram(df).collect()}
    assert set(rows) == {(0, 0), (0, 1), (1, 1)}
    assert rows[(0, 0)].sum_xy == 35.0  # 1+9+25
    assert rows[(0, 1)].sum_xy == 44.0  # 2+12+30
    assert rows[(1, 1)].sum_xy == 56.0  # 4+16+36
    # cov(x,x) for x=(1,3,5): mean 3, pop var 8/3
    assert rows[(0, 0)].cov_xy == round(8 / 3, 4)
    assert rows[(0, 1)].cov_xy == round(8 / 3, 4)  # y = x + 1
    assert all(r.n == 3 for r in rows.values())


def test_embedding_gram_blas_matches_exact(spark):
    import math

    from openset_spark.pipeline.similarity import (
        embedding_gram,
        embedding_gram_blas,
    )

    df = spark.createDataFrame(
        [
            (i, [math.sin(i * 7 + d) for d in range(5)])
            for i in range(60)
        ],
        "vec_id long, embedding array<float>",
    ).repartition(7)
    exact = {
        (r.i, r.j): (r.n, r.sum_xy) for r in embedding_gram(df).collect()
    }
    fast = {
        (r.i, r.j): (r.n, r.sum_xy)
        for r in embedding_gram_blas(df).collect()
    }
    assert set(exact) == set(fast) and len(exact) == 15
    for k, (n, sxy) in exact.items():
        assert fast[k][0] == n
        # exact path is ROUND(...,4): allow the half-ulp of that grid
        assert abs(fast[k][1] - sxy) < 6e-5


def test_dedup_keep_best_picks_quality_then_id(spark):
    from openset_spark.pipeline.dedup import dedup_keep_best

    scored = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.7), (9, 0.1)],
        "doc_id long, quality double",
    )
    # {1,2,3} one family (chain), {4} paired with nothing in scored?
    # no - pairs only among scored ids; 9 is a singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    rows = {r.doc_id: r for r in dedup_keep_best(scored, pairs).collect()}
    assert [rows[i].cluster_id for i in (1, 2, 3)] == [1, 1, 1]
    # 2 and 3 tie on quality 0.9 -> lower id 2 kept
    assert rows[2].keep and not rows[3].keep and not rows[1].keep
    # singletons keep themselves
    assert rows[4].keep and rows[4].cluster_id == 4
    assert rows[9].keep and rows[9].cluster_id == 9
