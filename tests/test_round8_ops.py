"""Round-8 operator tests: batched distributed-BPE training (the
one-Spark-round-per-merge fix) and subsequent round-8 additions."""

import pytest
from pyspark.sql import functions as F  # noqa: F401 (fixture parity with siblings)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "source string, text string").select(
        F.monotonically_increasing_id().alias("doc_id"), "source", "text"
    )


def _word_freqs_from_corpus(sf_dir):
    import duckdb

    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con.execute(
        f"""SELECT word, COUNT(*) FROM (
              SELECT unnest(string_split({_CLEAN_SQL}, ' ')) AS word FROM documents
            ) WHERE length(word) >= 2 GROUP BY word"""
    ).fetchall()


def _apply_merge(words, a, b):
    """Greedy-left non-overlapping application of one merge to the
    word-frequency state (the fused-flag convention)."""
    nxt = []
    for syms, f in words:
        out, fused = [], False
        for x in syms:
            if out and not fused and out[-1] == a and x == b:
                out[-1] = a + b
                fused = True
            else:
                out.append(x)
                fused = False
        if len(out) >= 2:
            nxt.append((out, f))
    return nxt


def _pair_count(words, a, b):
    return sum(
        f
        for syms, f in words
        for i in range(len(syms) - 1)
        if syms[i] == a and syms[i + 1] == b
    )


def test_bpe_train_batched_counts_are_exact(spark, sf_dir):
    """The batching contract: selection may deviate from strict
    sequential rank, but every RECORDED COUNT is exact — replaying the
    returned merges one-by-one through the pure-Python applier, each
    merge's pair count measured just before its own application equals
    the count the batched trainer recorded from the round's single
    aggregation (symbol-disjointness makes counts invariant within a
    round)."""
    from nlp_data_pipeline_spark.operators.text_analytics import bpe_train

    got = bpe_train(spark, sf_dir, n_merges=12, batch=6)
    assert len(got) == 12
    words = [
        ([c for c in w], f) for w, f in _word_freqs_from_corpus(sf_dir) if len(w) >= 2
    ]
    for a, b, cnt in got:
        assert _pair_count(words, a, b) == cnt, (a, b)
        words = _apply_merge(words, a, b)


def test_bpe_train_batch_is_symbol_disjoint_per_round(spark, monkeypatch):
    """Within one round the batch must skip pairs sharing a symbol with
    an already-selected pair: corpus 'abc' has equal-count (a,b) and
    (b,c); batch=2 may take only (a,b) in round 1 (b is used), leaving
    round 2 to pick (ab,c) on the merged state."""
    import nlp_data_pipeline_spark.operators.text_analytics as ta

    rows = [("src", "abc abc abc")]
    monkeypatch.setattr(ta, "load_table", lambda s, d, n: _docs(spark, rows))
    merges = ta.bpe_train(spark, "ignored", n_merges=2, batch=2)
    assert [m[:2] for m in merges] == [("a", "b"), ("ab", "c")]
    assert [m[2] for m in merges] == [3, 3]


def test_bpe_train_batch1_equals_sequential(spark, sf_dir):
    """batch=1 is byte-identical to the default sequential path."""
    from nlp_data_pipeline_spark.operators.text_analytics import bpe_train

    assert bpe_train(spark, sf_dir, n_merges=4) == bpe_train(
        spark, sf_dir, n_merges=4, batch=1
    )


# ---------------------------------------------------------------------------
# Round-11 trio: t40 OLS, t42 bigram surprisal, t44
# temperature mix — driver-style DuckDB parity + semantic invariants.
# ---------------------------------------------------------------------------
def _duck(sf_dir, views=("documents",)):
    import duckdb

    con = duckdb.connect()
    for v in views:
        con.execute(
            f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{sf_dir}/{v}.parquet')"
        )
    return con


def test_t40_matches_duckdb_oracle(spark, sf_dir):
    """t40 distributed OLS via exact-integer sufficient statistics: the
    Cramer solve over the shared fixed expression tree must match DuckDB
    bit-for-bit at 6 dp."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T40_SQL,
        t40_ols_sufficient_stats,
    )

    got = [tuple(r) for r in t40_ols_sufficient_stats(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T40_SQL).fetchall()]
    assert len(got) == 1 and got == want


def test_t40_fit_is_sane(spark, sf_dir):
    """Token count grows with chars: the char coefficient is positive
    and the fit explains most of the variance on the synthetic corpus
    (tokens ~ chars/avg_word_len is near-linear)."""
    from nlp_data_pipeline_spark.operators.text_analytics import t40_ols_sufficient_stats

    row = t40_ols_sufficient_stats(spark, sf_dir).collect()[0]
    assert row["b1"] > 0
    assert row["r2"] is not None and 0.5 < row["r2"] <= 1.0


def test_t40_exact_recompute(spark, sf_dir):
    """The sufficient statistics solve equals a direct numpy lstsq fit
    on the materialized feature matrix (library-free semantics pin)."""
    import numpy as np

    from nlp_data_pipeline_spark.operators.text_analytics import t40_ols_sufficient_stats

    row = t40_ols_sufficient_stats(spark, sf_dir).collect()[0]
    feats = _duck(sf_dir).execute(
        """SELECT n_chars,
                  len(list_filter(string_split(lower(regexp_replace(regexp_replace(text,
                        '[^a-zA-Z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), ' '),
                      x -> x != '' AND length(x) >= 6)),
                  len(list_filter(string_split(lower(regexp_replace(regexp_replace(text,
                        '[^a-zA-Z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), ' '),
                      x -> x != ''))
           FROM documents"""
    ).fetchall()
    X = np.array([[1.0, r[0], r[1]] for r in feats])
    y = np.array([float(r[2]) for r in feats])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert abs(row["b0"] - beta[0]) < 1e-4
    assert abs(row["b1"] - beta[1]) < 1e-4
    assert abs(row["b2"] - beta[2]) < 1e-4


def test_t42_matches_duckdb_oracle(spark, sf_dir):
    """t42 bigram surprisal: the integer-inequality surprise flags and
    per-doc rollup must match."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T42_SQL,
        t42_bigram_surprisal,
    )

    got = [tuple(r) for r in t42_bigram_surprisal(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T42_SQL).fetchall()]
    assert len(got) > 0 and got == want


def test_t42_flags_match_python_lm(spark, sf_dir):
    """Recompute the add-1-smoothed bigram LM in pure Python and verify
    the per-doc surprising-bigram counts for the returned docs."""
    from collections import Counter

    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T42_SURPRISE,
        t42_bigram_surprisal,
    )

    rows = t42_bigram_surprisal(spark, sf_dir).collect()
    docs = _duck(sf_dir).execute(
        """SELECT doc_id, list_filter(string_split(lower(regexp_replace(regexp_replace(
                 text, '[^a-zA-Z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), ' '), x -> x != '')
           FROM documents"""
    ).fetchall()
    cab, ca, vocab = Counter(), Counter(), set()
    seqs = {}
    for doc_id, toks in docs:
        vocab.update(toks)
        bigrams = list(zip(toks, toks[1:]))
        seqs[doc_id] = bigrams
        for a, b in bigrams:
            cab[(a, b)] += 1
            ca[a] += 1
    v = len(vocab)
    for r in rows:
        bigrams = seqs[r["doc_id"]]
        n_surp = sum(
            1 for a, b in bigrams if _T42_SURPRISE * (cab[(a, b)] + 1) < ca[a] + v
        )
        assert r["n_bigrams"] == len(bigrams)
        assert r["n_surprising"] == n_surp


def test_t44_matches_duckdb_oracle(spark, sf_dir):
    """t44 temperature-sampling mix: ÷ and sqrt are IEEE correctly
    rounded, so equality is exact."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T44_SQL,
        t44_source_temperature_mix,
    )

    got = [tuple(r) for r in t44_source_temperature_mix(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T44_SQL).fetchall()]
    assert len(got) > 0 and got == want


def test_t44_upweights_small_sources(spark, sf_dir):
    """α=0.5 contract: oversample_rate = 1/sqrt(share), so the smallest
    source gets the largest rate, the largest source gets exactly 1.0,
    and rate ordering is the reverse of token-count ordering."""
    import math

    from nlp_data_pipeline_spark.operators.text_analytics import (
        t44_source_temperature_mix,
    )

    rows = t44_source_temperature_mix(spark, sf_dir).collect()
    assert len(rows) >= 2
    by_n = sorted(rows, key=lambda r: r["n_tokens"])
    rates = [r["oversample_rate"] for r in by_n]
    assert rates == sorted(rates, reverse=True)
    assert by_n[-1]["oversample_rate"] == 1.0
    for r in rows:
        assert r["oversample_rate"] == math.sqrt(
            by_n[-1]["n_tokens"] / r["n_tokens"]
        )


def test_t43_matches_duckdb_oracle(spark, sf_dir):
    """t43 quality-score batch inference: coefficients come from the
    same unrounded fixed expression tree as t40 and every residual is
    one fixed ±*/ tree over exact-integer features, so the band counts
    are engine-exact."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T43_SQL,
        t43_quality_score_inference,
    )

    got = [tuple(r) for r in t43_quality_score_inference(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T43_SQL).fetchall()]
    assert len(got) >= 2 and got == want


def test_t43_bands_partition_corpus(spark, sf_dir):
    """The three residual bands partition each source's documents: band
    counts sum to n_docs, and on the synthetic near-linear corpus the
    trained model scores most documents inside the ±2-token band."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t43_quality_score_inference,
    )

    rows = t43_quality_score_inference(spark, sf_dir).collect()
    tot = {"docs": 0, "well": 0}
    for r in rows:
        assert r["n_well"] + r["n_mid"] + r["n_outlier"] == r["n_docs"]
        tot["docs"] += r["n_docs"]
        tot["well"] += r["n_well"]
    assert tot["well"] > 0.5 * tot["docs"]


def test_t43_model_is_broadcast_not_shuffled(spark, sf_dir):
    """Deployment-shape pin: scoring rides the corpus scan — the 1-row
    coefficient relation joins in as a broadcast nested-loop over a
    single row, never a shuffle of the corpus keyed by model id."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t43_quality_score_inference,
    )
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    plan = formatted_plan(t43_quality_score_inference(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Round-11 join/layout ops: q48 Z-order audit, q49
# binned interval-overlap join, a05 Bloom semi-join.
# ---------------------------------------------------------------------------
def test_q48_matches_duckdb_oracle(spark, sf_dir):
    """q48 Z-order layout audit: the Morton-bucketed span summary must
    match DuckDB exactly (all values are exact-integer arithmetic + one
    exact division)."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q48_SQL,
        q48_zorder_layout,
    )

    got = [tuple(r) for r in q48_zorder_layout(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir, views=("orders",)).execute(Q48_SQL).fetchall()]
    assert len(got) == 2 and got == want


def test_q48_zorder_bounds_both_dims(spark, sf_dir):
    """The layout claim itself: under the linear layout the leading key
    x is near-perfectly clustered but y spans nearly the full 0..255
    range per bucket; z-order trades a modest x-span for a y-span far
    below linear's — both dimensions become prunable."""
    from nlp_data_pipeline_spark.operators.relational_ext import q48_zorder_layout

    rows = {r["strategy"]: r for r in q48_zorder_layout(spark, sf_dir).collect()}
    lin, zo = rows["linear"], rows["zorder"]
    assert lin.avg_x_span < zo.avg_x_span
    assert zo.avg_y_span < lin.avg_y_span
    assert zo.avg_y_span < 0.66 * lin.avg_y_span


def test_q49_matches_duckdb_oracle(spark, sf_dir):
    """q49 binned interval-overlap join: the bin-equi-join + exact
    predicate must equal the oracle's plain theta join."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q49_SQL,
        q49_interval_overlap_join,
    )

    got = [tuple(r) for r in q49_interval_overlap_join(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("events",)).execute(Q49_SQL).fetchall()
    ]
    assert got == want


def test_q49_is_not_cartesian(spark, sf_dir):
    """The whole point of binning: the candidate join is an equi hash/
    merge join on the bin id, never a nested-loop theta join."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q49_interval_overlap_join,
    )
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    plan = formatted_plan(q49_interval_overlap_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q49_pairs_match_bruteforce(spark, sf_dir):
    """Every (session, incident) bin-join pair matches the brute-force
    O(n*m) Python recount of true interval overlaps."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        _Q49_INCIDENT_MIN,
        _Q49_SESSION_MIN,
        _Q49_VALUE_MIN,
        q49_interval_overlap_join,
    )

    rows = q49_interval_overlap_join(spark, sf_dir).collect()
    ev = _duck(sf_dir, views=("events",)).execute(
        "SELECT event_id, user_id, event_type, value, epoch_us(ts) FROM events"
    ).fetchall()
    sess = [
        (uid, us, us + _Q49_SESSION_MIN * 60_000_000)
        for _, uid, et, _, us in ev
        if et == "purchase"
    ]
    inc = [
        (us - _Q49_INCIDENT_MIN * 60_000_000, us + _Q49_INCIDENT_MIN * 60_000_000)
        for _, _, et, v, us in ev
        if et == "error" and v > _Q49_VALUE_MIN
    ]
    from collections import Counter

    per_user = Counter()
    for uid, lo, hi in sess:
        for ilo, ihi in inc:
            if lo <= ihi and ilo <= hi:
                per_user[uid] += 1
    for r in rows:
        assert per_user[r["user_id"]] == r["n_overlaps"]


def test_a05_matches_duckdb_oracle(spark, sf_dir):
    """a05 Bloom semi-join: the md5 bit positions, candidate set, and fp
    accounting are engine-exact."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        A05_SQL,
        a05_bloom_semijoin,
    )

    got = [tuple(r) for r in a05_bloom_semijoin(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("orders", "lineitem")).execute(A05_SQL).fetchall()
    ]
    assert len(got) == 1 and got == want


def test_a05_bloom_has_no_false_negatives(spark, sf_dir):
    """The Bloom contract: every true build key is admitted
    (n_true == n_build_keys that appear on the probe side) and the fp
    rate is within an order of magnitude of the (1-e^{-kn/m})^k sizing
    estimate."""
    import math

    from nlp_data_pipeline_spark.operators.relational_ext import (
        _A05_K,
        _A05_M,
        _A05_PRICE_MIN,
        a05_bloom_semijoin,
    )

    row = a05_bloom_semijoin(spark, sf_dir).collect()[0]
    joint = _duck(sf_dir, views=("orders", "lineitem")).execute(
        f"""SELECT COUNT(DISTINCT o_orderkey) FROM orders
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_totalprice > {_A05_PRICE_MIN}"""
    ).fetchone()[0]
    assert row["n_true"] == joint  # no false negatives, ever
    expected_fp = (1 - math.exp(-_A05_K * row["n_build_keys"] / _A05_M)) ** _A05_K
    assert row["fp_rate"] <= max(10 * expected_fp, 0.02)


def test_a05_probe_side_filter_is_broadcast(spark, sf_dir):
    """The bit set must broadcast (bounded by m at any corpus size) —
    the probe (corpus) side never shuffles to evaluate the filter. The
    build-key classification join is hint-free (SF-scaled filtered
    relation, estimate-driven — round-10 audit), so only the bit-set
    broadcast is pinned; whether Catalyst picks BHJ or SMJ for that
    estimate-driven join is its call and NOT asserted (ADVICE r10:
    a blanket SortMergeJoin-absence pin flips on stats/version drift)."""
    from nlp_data_pipeline_spark.operators.relational_ext import a05_bloom_semijoin
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    plan = formatted_plan(a05_bloom_semijoin(spark, sf_dir))
    lines = plan.splitlines()
    assert any(
        "BroadcastExchange" in lines[i] and "pos#" in lines[i + 1]
        for i in range(len(lines) - 1)
    ), "bit-set broadcast missing"


# ---------------------------------------------------------------------------
# Round-11 LLM-data ops: s21 hard negatives, s22
# label-centroid similarity, t45 token-budget water-filling.
# ---------------------------------------------------------------------------
def test_s21_matches_duckdb_oracle(spark, sf_dir):
    """s21 hard-negative mining: the label-mismatch top-k must match the
    brute-force oracle exactly."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S21_SQL,
        s21_hard_negative_mining,
    )

    got = [tuple(r) for r in s21_hard_negative_mining(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S21_SQL).fetchall()
    ]
    assert len(got) > 0 and sorted(got) == sorted(want)


def test_s21_negatives_never_share_query_label(spark, sf_dir):
    """The contrastive contract: every mined negative carries a label
    different from its query's (which also excludes self-matches), and
    each query gets exactly NEG_TOP_K negatives ranked by cosine."""
    from nlp_data_pipeline_spark.operators.similarity import (
        N_NEG_QUERIES,
        NEG_TOP_K,
        s21_hard_negative_mining,
    )

    rows = s21_hard_negative_mining(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        assert r["neg_label"] != r["query_label"]
        assert r["vec_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r)
    assert len(per_q) == N_NEG_QUERIES
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r["neg_rank"])
        assert [r["neg_rank"] for r in rs] == list(range(1, NEG_TOP_K + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_s22_matches_duckdb_oracle(spark, sf_dir):
    """s22 label-centroid similarity: integer-quantized sums make the
    centroid matrix engine-exact."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S22_SQL,
        s22_label_centroid_similarity,
    )

    got = [tuple(r) for r in s22_label_centroid_similarity(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S22_SQL).fetchall()
    ]
    assert len(got) > 0 and got == want


def test_s22_matches_numpy_centroids(spark, sf_dir):
    """The quantized integer-sum cosine approximates the true float
    centroid cosine to ~1e-4 (quantization at 1e-6 of unit-norm
    coords), and the matrix covers every unordered label pair once."""
    import numpy as np

    from nlp_data_pipeline_spark.operators.similarity import (
        s22_label_centroid_similarity,
    )

    rows = s22_label_centroid_similarity(spark, sf_dir).collect()
    raw = _duck(sf_dir, views=("embeddings",)).execute(
        "SELECT label, embedding::DOUBLE[] FROM embeddings"
    ).fetchall()
    by_label = {}
    for label, emb in raw:
        by_label.setdefault(label, []).append(emb)
    cents = {l: np.mean(np.array(v), axis=0) for l, v in by_label.items()}
    labels = sorted(cents)
    assert len(rows) == len(labels) * (len(labels) - 1) // 2
    for r in rows:
        a, b = cents[r["label_a"]], cents[r["label_b"]]
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["centroid_cosine"] - true_cos) < 1e-4


def test_t45_matches_duckdb_oracle(spark, sf_dir):
    """t45 token-budget water-filling: all-integer arithmetic makes the
    allocation engine-exact."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T45_SQL,
        t45_token_budget_waterfill,
    )

    got = [tuple(r) for r in t45_token_budget_waterfill(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T45_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_t45_waterfill_invariants(spark, sf_dir):
    """The allocation IS a water-filling: capped sources get exactly
    cap (= 4 epochs), uncapped sources all get the same level, every
    capped source's cap is <= that level, the total spends the budget
    to within n_sources tokens, and nothing exceeds its cap."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T45_BUDGET_X,
        _T45_MAX_EPOCHS,
        t45_token_budget_waterfill,
    )

    rows = t45_token_budget_waterfill(spark, sf_dir).collect()
    budget = _T45_BUDGET_X * sum(r["n_tokens"] for r in rows)
    for r in rows:
        assert r["cap"] == _T45_MAX_EPOCHS * r["n_tokens"]
        assert r["allocated"] <= r["cap"]
        assert r["capped"] == (r["allocated"] == r["cap"])
    levels = {r["allocated"] for r in rows if not r["capped"]}
    assert len(levels) <= 1
    if levels:
        level = levels.pop()
        assert all(r["allocated"] <= level for r in rows if r["capped"])
    total = sum(r["allocated"] for r in rows)
    assert total <= budget
    assert budget - total < len(rows)


def test_t45_waterfill_matches_python_solve(spark, sf_dir):
    """The window-pass level equals a direct iterative water-filling
    solve over the same integer caps."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T45_BUDGET_X,
        t45_token_budget_waterfill,
    )

    rows = sorted(
        t45_token_budget_waterfill(spark, sf_dir).collect(),
        key=lambda r: (r["cap"], r["source"]),
    )
    budget = _T45_BUDGET_X * sum(r["n_tokens"] for r in rows)
    caps = [r["cap"] for r in rows]
    alloc, remaining = {}, budget
    pending = list(range(len(caps)))
    while pending:
        level = remaining // len(pending)
        newly = [i for i in pending if caps[i] <= level]
        if not newly:
            for i in pending:
                alloc[i] = level
            break
        for i in newly:
            alloc[i] = caps[i]
            remaining -= caps[i]
        pending = [i for i in pending if i not in newly]
    for idx, r in enumerate(rows):
        assert r["allocated"] == alloc[idx], (r["source"], r["allocated"], alloc[idx])


def test_q51_matches_duckdb_oracle(spark, sf_dir):
    """q51 CBO stats-driven join: the declared aggregate is
    plan-independent and must match the plain filtered-join oracle."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q51_SQL,
        q51_cbo_stats_join,
    )

    got = [tuple(r) for r in q51_cbo_stats_join(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("orders", "lineitem"))
        .execute(Q51_SQL)
        .fetchall()
    ]
    assert len(got) == 1 and got == want


def test_a06_matches_duckdb_oracle(spark, sf_dir):
    """a06 KMV sketch: the md5-based sketch state AND estimate are
    engine-exact (no tolerance booleans needed, unlike the HLL family)."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A06_SQL,
        a06_kmv_distinct_sketch,
    )

    got = [tuple(r) for r in a06_kmv_distinct_sketch(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(A06_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_a06_kth_hash_matches_python_recompute(spark, sf_dir):
    """The declared kth_hash IS the K-th smallest first-8-hex md5 over
    each source's distinct bigrams, and every estimate is within the
    declared 50% band on this corpus (k=64 → ~12.6% stderr)."""
    import hashlib as hl

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        KMV_K,
        a06_kmv_distinct_sketch,
    )
    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    rows = a06_kmv_distinct_sketch(spark, sf_dir).collect()
    assert all(r["within_50pct"] for r in rows)
    docs = _duck(sf_dir).execute(
        f"SELECT source, list_filter(string_split({_CLEAN_SQL}, ' '), x -> x != '')"
        " FROM documents"
    ).fetchall()
    per_src = {}
    for source, t in docs:
        per_src.setdefault(source, set()).update(
            f"{a} {b}" for a, b in zip(t, t[1:])
        )
    for r in rows:
        bigrams = per_src[r["source"]]
        hashes = sorted(int(hl.md5(b.encode()).hexdigest()[:8], 16) for b in bigrams)
        assert r["exact_distinct"] == len(bigrams)
        assert r["kth_hash"] == hashes[KMV_K - 1]


def test_v18_matches_duckdb_oracle(spark, sf_dir):
    """v18 three-valued-logic battery: one shared ANSI text,
    engine-exact."""
    from nlp_data_pipeline_spark.operators.sql_api import (
        V18_SQL,
        v18_null_semantics,
    )

    got = [tuple(r) for r in v18_null_semantics(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("orders", "customer"))
        .execute(V18_SQL)
        .fetchall()
    ]
    assert len(got) == 1 and got == want


def test_v18_semantics_invariants(spark, sf_dir):
    """The battery's claims hold: NOT IN against a NULL-bearing set is
    empty; IN is unaffected by the extra NULL; partitioning by the
    plain set is exact (IN + NOT IN = all rows); COUNT(DISTINCT) skips
    the NULL but GROUP BY keeps it as one extra group."""
    from nlp_data_pipeline_spark.operators.sql_api import v18_null_semantics

    r = v18_null_semantics(spark, sf_dir).collect()[0]
    assert r["n_not_in_nullset"] == 0
    assert r["n_in_nullset"] == r["n_in"]
    assert r["n_in"] + r["n_not_in"] == r["n_rows"]
    assert r["n_prio_nonnull"] < r["n_rows"]
    assert r["n_groups"] == r["n_prio_distinct"] + 1
    assert r["avg_skips_nulls"] is not None


# ---------------------------------------------------------------------------
# Round-12 ops: t46 quality-threshold curve, s23
# graph-ANN beam-width curve.
# ---------------------------------------------------------------------------
def test_t46_matches_duckdb_oracle(spark, sf_dir):
    """t46 quality-threshold operating curve: one scan, conditional
    sums, engine-exact counts."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T46_SQL,
        t46_quality_threshold_curve,
    )

    got = [tuple(r) for r in t46_quality_threshold_curve(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T46_SQL).fetchall()]
    assert len(got) == 5 and got == want


def test_t46_curve_is_monotone_and_consistent(spark, sf_dir):
    """Operating-curve invariants: keep counts and kept tokens are
    non-increasing in the threshold, never exceed the corpus, and a
    pure-Python IEEE recompute of the UNROUNDED t08 score (same
    left-associated tree — the corpus has docs sitting exactly ON a
    threshold, e.g. nw=40 → (0.4+2.0)/3 just below 0.8, so t08's
    6-dp-rounded scores would miscount by ~9 docs here) reproduces
    each n_kept and tokens_kept exactly."""
    import re as _re

    from nlp_data_pipeline_spark.functions.text import STOP_WORDS
    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T46_THRESHOLDS,
        t46_quality_threshold_curve,
    )

    rows = t46_quality_threshold_curve(spark, sf_dir).collect()
    assert [r["threshold"] for r in rows] == list(_T46_THRESHOLDS)
    kept = [r["n_kept"] for r in rows]
    toks = [r["tokens_kept"] for r in rows]
    assert kept == sorted(kept, reverse=True)
    assert toks == sorted(toks, reverse=True)
    docs = _duck(sf_dir).execute("SELECT text FROM documents").fetchall()
    scored = []
    for (text,) in docs:
        words = [t for t in _re.split(r"\s+", text.lower()) if t != ""]
        nw = len(words)
        sr = sum(1 for t in words if t in STOP_WORDS) / nw
        awl = sum(len(t) for t in words) / nw
        ls = min(1.0, nw / 100.0)
        ss = 1.0 if 0.05 <= sr <= 0.6 else 0.5
        ws = 1.0 if 3.0 <= awl <= 10.0 else 0.5
        scored.append(((ls + ss + ws) / 3.0, nw))
    for r in rows:
        assert r["n_docs"] == len(scored) >= r["n_kept"]
        assert r["n_kept"] == sum(1 for q, _ in scored if q >= r["threshold"])
        assert r["tokens_kept"] == sum(nw for q, nw in scored if q >= r["threshold"])


def test_s23_matches_duckdb_oracle(spark, sf_dir):
    """s23 beam-width curve: the declared surface is the graded
    recall_ok gates (s16's constant-truth oracle pattern — SQL cannot
    run the graph walk)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S23_SQL,
        s23_beam_width_curve,
    )

    got = [tuple(r) for r in s23_beam_width_curve(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir, views=()).execute(S23_SQL).fetchall()]
    assert len(got) == 3 and got == want


def test_s23_all_beams_clear_their_floor(spark, sf_dir):
    """Every beam width clears its graded floor with the declared
    n_queries intact (margins measured 12-25 hits vs floors 1/10/15)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        S23_EFS,
        s23_beam_width_curve,
    )

    rows = s23_beam_width_curve(spark, sf_dir).collect()
    assert [r["ef"] for r in rows] == sorted(S23_EFS)
    for r in rows:
        assert r["n_queries"] == N_QUERIES
        assert r["recall_ok"] is True


def test_s24_matches_duckdb_oracle(spark, sf_dir):
    """s24 topical source mix: the metadata-to-embedding join
    contingency is engine-exact."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S24_SQL,
        s24_topical_source_mix,
    )

    got = [tuple(r) for r in s24_topical_source_mix(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("documents", "embeddings"))
        .execute(S24_SQL)
        .fetchall()
    ]
    assert len(got) > 0 and got == want


def test_s24_contingency_invariants(spark, sf_dir):
    """Every embedded doc lands in exactly one (source, label) cell:
    cell doc counts sum to the join cardinality, each source has
    exactly one dominant label, and that label has the max doc count
    in its source (smallest label on ties)."""
    from nlp_data_pipeline_spark.operators.similarity import s24_topical_source_mix

    rows = s24_topical_source_mix(spark, sf_dir).collect()
    n_embedded = _duck(sf_dir, views=("documents", "embeddings")).execute(
        "SELECT COUNT(*) FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_embedded
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, cells in by_src.items():
        doms = [r for r in cells if r["dominant"]]
        assert len(doms) == 1
        best = min(cells, key=lambda r: (-r["n_docs"], r["label"]))
        assert doms[0]["label"] == best["label"]


def test_d20_matches_duckdb_oracle(spark, sf_dir):
    """d20 Bloom-gated decontamination: the portable-hash filter makes
    every tier count engine-exact."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D20_SQL,
        d20_bloom_decontamination,
    )

    got = [tuple(r) for r in d20_bloom_decontamination(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D20_SQL).fetchall()]
    assert len(got) == 1 and got == want


def test_d20_bloom_has_no_false_negatives(spark, sf_dir):
    """The safety property that makes the tier sound: every document
    the EXACT d10-style set-join finds contaminated is also flagged by
    the Bloom-gated path (a Bloom filter can only over-admit), the
    admitted pairs split exactly into true + false-positive, and the
    true pair count equals the exact join's pair count."""
    from nlp_data_pipeline_spark.operators.dedup import (
        _TOKLIST_CTE,
        d20_bloom_decontamination,
    )

    r = d20_bloom_decontamination(spark, sf_dir).collect()[0]
    assert r["n_pairs_true"] + r["n_pairs_false_pos"] == r["n_pairs_admitted"]
    assert r["n_clean_no_exact_check"] <= r["n_docs_checked"]
    exact = _duck(sf_dir).execute(
        _TOKLIST_CTE
        + """,
bench AS (SELECT DISTINCT shingle FROM shingle_set WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, shingle FROM shingle_set WHERE doc_id % 97 != 0),
hits AS (SELECT c.doc_id FROM corpus c JOIN bench b USING (shingle))
SELECT COUNT(DISTINCT doc_id), COUNT(*) FROM hits"""
    ).fetchone()
    assert r["n_contaminated"] == exact[0]
    assert r["n_pairs_true"] == exact[1]


def test_t47_matches_duckdb_oracle(spark, sf_dir):
    """t47 span-corruption plan: the deterministic hash mask makes every
    count engine-exact."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T47_SQL,
        t47_span_corruption_plan,
    )

    got = [tuple(r) for r in t47_span_corruption_plan(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T47_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_t47_matches_python_mask_recompute(spark, sf_dir):
    """Pure-Python recompute of the md5 position masks reproduces the
    per-source masked/span counts exactly, the overall mask rate sits
    near the designed 15%, and spans never exceed masked positions."""
    import hashlib as hl
    import re as _re

    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T47_MOD,
        _T47_RATE,
        t47_span_corruption_plan,
    )

    rows = t47_span_corruption_plan(spark, sf_dir).collect()
    docs = _duck(sf_dir).execute(
        "SELECT doc_id, source, lower(regexp_replace(regexp_replace(text,"
        " '[^a-zA-Z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) FROM documents"
    ).fetchall()
    agg = {}
    for doc_id, source, ctext in docs:
        toks = [t for t in ctext.split(" ") if t != ""]
        mask = [
            int(hl.md5(f"{doc_id}|{i}".encode()).hexdigest()[:7], 16) % _T47_MOD
            < _T47_RATE
            for i in range(1, len(toks) + 1)
        ]
        nm = sum(mask)
        ns = sum(
            1 for i, m in enumerate(mask) if m and (i == 0 or not mask[i - 1])
        )
        a = agg.setdefault(source, [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(toks)
        a[2] += nm
        a[3] += ns
    tot_tokens = tot_masked = 0
    for r in rows:
        assert [r["n_docs"], r["n_tokens"], r["n_masked"], r["n_spans"]] == agg[
            r["source"]
        ]
        assert r["n_spans"] <= r["n_masked"]
        tot_tokens += r["n_tokens"]
        tot_masked += r["n_masked"]
    assert abs(tot_masked / tot_tokens - _T47_RATE / _T47_MOD) < 0.02


def test_m10_matches_duckdb_oracle(spark, sf_dir):
    """m10 image patch grid: exact integer patch sums over the committed
    fixtures pin the decode + pad + patchify pipeline against the
    closed-form VALUES oracle."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        M10_SQL,
        m10_image_patch_grid,
    )

    got = [tuple(r) for r in m10_image_patch_grid(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir, views=()).execute(M10_SQL).fetchall()]
    assert len(got) == 22 and got == want


def test_m10_patches_partition_each_image(spark, sf_dir):
    """Patchify invariants: the grid is dense (every (row, col) cell
    present exactly once per image, ceil-division extents), and the
    patch sums of each image total its m07 pixel_sum — zero padding
    adds nothing."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        _M10_P,
        m07_png_pixel_stats,
        m10_image_patch_grid,
    )

    stats = {r["filename"]: r for r in m07_png_pixel_stats(spark, sf_dir).collect()}
    by_img = {}
    for r in m10_image_patch_grid(spark, sf_dir).collect():
        by_img.setdefault(r["filename"], []).append(r)
    assert set(by_img) == set(stats)
    for fn, cells in by_img.items():
        s = stats[fn]
        ph = -(-s["height"] // _M10_P)
        pw = -(-s["width"] // _M10_P)
        assert sorted((c["patch_row"], c["patch_col"]) for c in cells) == [
            (y, x) for y in range(ph) for x in range(pw)
        ]
        assert sum(c["patch_sum"] for c in cells) == s["pixel_sum"]


def test_q52_matches_duckdb_oracle(spark, sf_dir):
    """q52 file-metadata layout audit: the real landed layout must
    satisfy the one-file-per-source contract the oracle states."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q52_SQL,
        q52_file_metadata_audit,
    )

    got = [tuple(r) for r in q52_file_metadata_audit(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("documents",)).execute(Q52_SQL).fetchall()
    ]
    assert len(got) > 1 and got == want


def test_q52_metadata_paths_carry_partition_value(spark, sf_dir):
    """The _metadata surface itself: every row's file_path embeds its
    own source partition directory (source=<value>/), i.e. the hidden
    column really points at the file the row came from."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nlp_data_pipeline_spark.scratch import scratch_path
    from nlp_data_pipeline_spark.sources.catalog import load_table

    root = scratch_path(f"q52t_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    out = os.path.join(root, "docs")
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .repartition("source")
        .write.partitionBy("source")
        .parquet(out)
    )
    mismatches = (
        spark.read.parquet(out)
        .select(
            "source",
            F.regexp_extract(F.col("_metadata.file_path"), r"source=([^/]+)/", 1)
            .alias("from_path"),
        )
        .filter(F.col("source") != F.col("from_path"))
        .count()
    )
    assert mismatches == 0


def test_t48_matches_duckdb_oracle(spark, sf_dir):
    """t48 packing-efficiency curve: all declared values are exact
    integers, engine-exact."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T48_SQL,
        t48_packing_efficiency_curve,
    )

    got = [tuple(r) for r in t48_packing_efficiency_curve(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T48_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_t48_curve_invariants(spark, sf_dir):
    """Packing arithmetic: pad waste is a remainder (< seq_len), packs
    cover the token mass exactly (n_packs*L = total + padding), the
    curve spans every (source, L) cell, and n_packs shrinks (weakly)
    as L grows while per-pack waste sits in the final pack only."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T48_SEQ_LENS,
        t48_packing_efficiency_curve,
    )

    rows = t48_packing_efficiency_curve(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        assert 0 <= r["padding_tokens"] < r["seq_len"]
        assert r["n_packs"] * r["seq_len"] == r["total_tokens"] + r["padding_tokens"]
        assert 0 <= r["n_boundary_docs"]
        by_src.setdefault(r["source"], []).append(r)
    for src, cells in by_src.items():
        assert sorted(c["seq_len"] for c in cells) == sorted(_T48_SEQ_LENS)
        ordered = sorted(cells, key=lambda c: c["seq_len"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["n_packs"] >= b["n_packs"]


def test_q53_matches_duckdb_oracle(spark, sf_dir):
    """q53 batch sessionization: the native session_window aggregation
    must reproduce the lag+cumsum oracle exactly, including the
    strictly-greater-than-gap closing rule."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q53_SQL,
        q53_sessionize_batch,
    )

    got = [tuple(r) for r in q53_sessionize_batch(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(Q53_SQL).fetchall()
    ]
    assert len(got) > 1 and got == want


def test_q53_sessions_partition_events(spark, sf_dir):
    """Sessionization invariants: per-user event counts are conserved,
    every session is non-empty with end = last event + gap (so end >
    start), and consecutive sessions of one user are separated by at
    least the 30-minute gap."""
    import datetime

    from nlp_data_pipeline_spark.operators.relational_ext import q53_sessionize_batch
    from nlp_data_pipeline_spark.sources.catalog import load_table

    rows = q53_sessionize_batch(spark, sf_dir).collect()
    totals = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .filter("ts IS NOT NULL")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    gap = datetime.timedelta(minutes=30)
    by_user = {}
    for r in rows:
        assert r["n_events"] >= 1
        assert 1 <= r["n_event_types"] <= r["n_events"]
        assert r["session_end"] > r["session_start"]
        by_user.setdefault(r["user_id"], []).append(r)
    assert {u: sum(r["n_events"] for r in rs) for u, rs in by_user.items()} == totals
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["session_start"])
        for a, b in zip(rs, rs[1:]):
            # a ends at (last event + gap); the next session's first
            # event may start exactly there but never before
            assert b["session_start"] >= a["session_end"]


def test_s25_matches_duckdb_oracle(spark, sf_dir):
    """s25 mutual-kNN pairs: the declared cosine re-scores through the
    s01 fold helpers so both engines compare identical float sequences."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S25_SQL,
        s25_mutual_knn_pairs,
    )

    got = [tuple(r) for r in s25_mutual_knn_pairs(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S25_SQL).fetchall()
    ]
    assert len(got) > 1 and got == want


def test_s25_pairs_are_mutual_and_subset_of_knn(spark, sf_dir):
    """The filter's defining property: every declared pair appears in
    BOTH directions of the exact directed top-M list, pairs are
    canonical (a < b) and unique, and the mutual set is a strict
    subset of the one-sided candidate pairs (hub asymmetry exists)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        GRAPH_M,
        _knn_directed,
        s25_mutual_knn_pairs,
    )

    knn = {
        (r["src"], r["dst"])
        for r in _knn_directed(spark, sf_dir, GRAPH_M).select("src", "dst").collect()
    }
    pairs = [(r["vec_a"], r["vec_b"]) for r in s25_mutual_knn_pairs(spark, sf_dir).collect()]
    assert len(pairs) == len(set(pairs))
    for a, b in pairs:
        assert a < b
        assert (a, b) in knn and (b, a) in knn
    one_sided = {(min(a, b), max(a, b)) for a, b in knn}
    assert set(pairs) < one_sided


def test_a07_matches_duckdb_oracle(spark, sf_dir):
    """a07 hash-reservoir sample: md5 draw keys are engine-identical so
    the sample is engine-exact."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A07_SQL,
        a07_reservoir_sample,
    )

    got = [tuple(r) for r in a07_reservoir_sample(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(A07_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_a07_sample_properties(spark, sf_dir):
    """Reservoir contract: exactly K rows per source (corpus strata are
    all larger than K), ranks are 1..K ordered by the draw key, two
    runs are byte-identical (no RNG state), and the kept draws are
    precisely the K smallest hashes of the stratum (mergeability: the
    min-K of any partition union is the min-K of the whole)."""
    import hashlib as hl

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A07_SAMPLE_K,
        _A07_SEED,
        a07_reservoir_sample,
    )

    rows = a07_reservoir_sample(spark, sf_dir).collect()
    again = a07_reservoir_sample(spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    docs = _duck(sf_dir).execute("SELECT doc_id, source FROM documents").fetchall()
    by_src = {}
    for doc_id, source in docs:
        by_src.setdefault(source, []).append(
            (hl.md5(f"{_A07_SEED}|{doc_id}".encode()).hexdigest(), doc_id)
        )
    got_by_src = {}
    for r in rows:
        got_by_src.setdefault(r["source"], []).append(r)
    assert set(got_by_src) == set(by_src)
    for src, got in got_by_src.items():
        assert [r["sample_rank"] for r in got] == list(range(1, A07_SAMPLE_K + 1))
        want = sorted(by_src[src])[:A07_SAMPLE_K]
        assert [(r["draw"], r["doc_id"]) for r in got] == want


def test_d21_matches_duckdb_oracle(spark, sf_dir):
    """d21 split-contamination audit: both split strategies count the
    same LSH pair set, engine-exact."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D21_SQL,
        d21_split_contamination_audit,
    )

    got = [tuple(r) for r in d21_split_contamination_audit(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D21_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_d21_cluster_split_never_leaks(spark, sf_dir):
    """The audit's point: the by_cluster strategy declares ZERO
    cross-split rows (d12 assigns near-dup components atomically),
    the naive by_doc strategy DOES leak pairs across splits on this
    corpus, and both strategies account for every d03 candidate
    pair."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d03_lsh_candidate_pairs,
        d21_split_contamination_audit,
    )

    rows = d21_split_contamination_audit(spark, sf_dir).collect()
    n_pairs = d03_lsh_candidate_pairs(spark, sf_dir).count()
    for strat in ("by_cluster", "by_doc"):
        srows = [r for r in rows if r["strategy"] == strat]
        assert sum(r["n_pairs"] for r in srows) == n_pairs
    assert not any(r["is_cross"] for r in rows if r["strategy"] == "by_cluster")
    assert any(r["is_cross"] for r in rows if r["strategy"] == "by_doc")
    for r in rows:
        assert r["split_a"] <= r["split_b"]
        assert r["is_cross"] == (r["split_a"] != r["split_b"])


def test_d22_matches_duckdb_oracle(spark, sf_dir):
    """d22 LSH banding operating curve: every declared value is an
    integer count and the near-dup truth test is pure integer
    arithmetic, engine-exact."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D22_SQL,
        d22_lsh_band_curve,
    )

    got = [tuple(r) for r in d22_lsh_band_curve(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D22_SQL).fetchall()]
    assert len(got) == 3 and got == want


def test_d22_curve_is_nested_and_consistent(spark, sf_dir):
    """Banding algebra: the three configs use all H=8 hashes, stricter
    configs admit (weakly) fewer candidates and catch fewer true pairs
    (nesting), the deployed 4x2 row equals the d03 candidate count and
    misses zero true pairs by definition of the truth reference, and
    candidates always split exactly into true + false-positive."""
    from nlp_data_pipeline_spark.operators.dedup import (
        _D22_CONFIGS,
        d03_lsh_candidate_pairs,
        d22_lsh_band_curve,
    )

    rows = sorted(
        d22_lsh_band_curve(spark, sf_dir).collect(), key=lambda r: r["n_bands"]
    )
    assert [(r["n_bands"], r["rows_per_band"]) for r in rows] == sorted(_D22_CONFIGS)
    for r in rows:
        assert r["n_bands"] * r["rows_per_band"] == 8
        assert r["n_candidates"] == r["n_true_pairs"] + r["n_false_pos"]
        assert r["n_true_missed"] >= 0
    for a, b in zip(rows, rows[1:]):  # ordered strict -> loose
        assert a["n_candidates"] <= b["n_candidates"]
        assert a["n_true_pairs"] <= b["n_true_pairs"]
        assert a["n_true_missed"] >= b["n_true_missed"]
    deployed = rows[-1]
    assert deployed["n_candidates"] == d03_lsh_candidate_pairs(spark, sf_dir).count()
    assert deployed["n_true_missed"] == 0


def test_t49_matches_duckdb_oracle(spark, sf_dir):
    """t49 bigram coverage curve: coverage masses are exact BIGINTs,
    engine-exact."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T49_SQL,
        t49_ngram_coverage_curve,
    )

    got = [tuple(r) for r in t49_ngram_coverage_curve(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T49_SQL).fetchall()]
    assert len(got) == 3 and got == want


def test_t49_coverage_matches_python_recompute(spark, sf_dir):
    """Pure-Python recompute: rank bigrams by (count desc, bigram asc)
    and sum the top-K masses; the curve must agree exactly, be
    monotone in K, and never exceed the total mass."""
    from collections import Counter

    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T49_CUTOFFS,
        t49_ngram_coverage_curve,
    )

    rows = sorted(
        t49_ngram_coverage_curve(spark, sf_dir).collect(),
        key=lambda r: r["cutoff_k"],
    )
    docs = _duck(sf_dir).execute(
        "SELECT lower(regexp_replace(regexp_replace(text,"
        " '[^a-zA-Z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) FROM documents"
    ).fetchall()
    c = Counter()
    for (ctext,) in docs:
        toks = [t for t in ctext.split(" ") if t != ""]
        c.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(c.values())
    assert [r["cutoff_k"] for r in rows] == sorted(_T49_CUTOFFS)
    prev = 0
    for r in rows:
        want_cov = sum(cnt for _, cnt in ordered[: r["cutoff_k"]])
        assert r["covered_occurrences"] == want_cov
        assert r["total_occurrences"] == total
        assert r["n_distinct_ngrams"] == len(c)
        assert r["n_types_used"] == min(r["cutoff_k"], len(c))
        assert prev <= r["covered_occurrences"] <= total
        prev = r["covered_occurrences"]


# ---------------------------------------------------------------------------
# Round-13 batch: m11 PCM frame energy, s26 label
# retrieval eval, v19 try_* battery, r19 multiline CSV.
# ---------------------------------------------------------------------------
def test_m11_matches_duckdb_oracle(spark, sf_dir):
    """m11 PCM frame energy: the construct->parse loop yields exact
    BIGINTs the oracle recomputes closed-form from doc_id."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        M11_SQL,
        m11_pcm_frame_energy,
    )

    got = [tuple(r) for r in m11_pcm_frame_energy(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(M11_SQL).fetchall()]
    assert len(got) == 64 and got == want


def test_m11_matches_python_pcm_recompute(spark, sf_dir):
    """Pure-Python synthesis of the same int16 stream reproduces every
    frame energy and peak exactly (byte-level decode is lossless)."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        _M11_A,
        _M11_B,
        _M11_FRAME,
        _M11_N_DOCS,
        _M11_SAMPLES,
        m11_pcm_frame_energy,
    )

    rows = m11_pcm_frame_energy(spark, sf_dir).collect()
    for r in rows:
        base = r["frame_id"] * _M11_FRAME
        ss = []
        for i in range(base, base + _M11_FRAME):
            u = (r["doc_id"] * _M11_A + i * _M11_B) % 65536
            ss.append(u - 65536 if u >= 32768 else u)
        assert r["energy"] == sum(s * s for s in ss)
        assert r["peak_abs"] == max(abs(s) for s in ss)
    assert len({r["doc_id"] for r in rows}) == _M11_N_DOCS
    assert _M11_SAMPLES // _M11_FRAME == 4


def test_s26_matches_duckdb_oracle(spark, sf_dir):
    """s26 label-retrieval eval: the fold-helper cosine makes rank
    selection engine-exact."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S26_SQL,
        s26_label_retrieval_eval,
    )

    got = [tuple(r) for r in s26_label_retrieval_eval(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S26_SQL).fetchall()
    ]
    assert len(got) > 1 and got == want


def test_s26_metric_invariants(spark, sf_dir):
    """Retrieval-metric algebra: hits are monotone in K and bounded by
    the cutoff, first_hit_rank is NULL exactly when no hit landed in
    the top-10, and when present it is consistent with the hit counts
    (rank 1 iff hits_at_1)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        _S26_K,
        _S26_N_QUERIES,
        s26_label_retrieval_eval,
    )

    rows = s26_label_retrieval_eval(spark, sf_dir).collect()
    assert len(rows) == _S26_N_QUERIES
    for r in rows:
        assert 0 <= r["hits_at_1"] <= 1
        assert r["hits_at_1"] <= r["hits_at_5"] <= r["hits_at_10"] <= _S26_K
        if r["hits_at_10"] == 0:
            assert r["first_hit_rank"] is None
        else:
            assert 1 <= r["first_hit_rank"] <= _S26_K
            assert (r["first_hit_rank"] == 1) == (r["hits_at_1"] == 1)


def test_v19_matches_duckdb_oracle(spark, sf_dir):
    """v19 try_* battery: every null-injection site must agree with the
    oracle's CASE guards."""
    from nlp_data_pipeline_spark.operators.sql_api import (
        V19_SQL,
        v19_try_functions,
    )

    got = [tuple(r) for r in v19_try_functions(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("orders",)).execute(V19_SQL).fetchall()
    ]
    assert len(got) == 1 and got == want


def test_v19_failure_modes_partition_rows(spark, sf_dir):
    """Each try_* column splits the row count coherently: div ok+null
    covers all rows, the word cast never succeeds while the digit
    prefix always does, and overflow spares only non-positive keys."""
    from nlp_data_pipeline_spark.operators.sql_api import v19_try_functions

    r = v19_try_functions(spark, sf_dir).collect()[0]
    assert r["n_div_ok"] + r["n_div_null"] == r["n_rows"]
    assert r["n_div_null"] > 0
    assert r["n_cast_word_ok"] == 0
    assert r["n_cast_digit_ok"] == r["n_rows"]
    assert 0 <= r["n_add_ok"] < r["n_rows"]
    assert 0 < r["n_elem_ok"] < r["n_rows"]


def test_r19_matches_duckdb_oracle(spark, sf_dir):
    """r19 multiline quoted-CSV ingestion: the roundtrip reproduces the
    source rows exactly."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        R19_SQL,
        r19_multiline_csv_ingest,
    )

    got = [tuple(r) for r in r19_multiline_csv_ingest(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(R19_SQL).fetchall()]
    assert len(got) == 20 and got == want


def test_r19_staged_file_really_spans_lines(spark, sf_dir):
    """The multiLine property itself: the staged CSV has MORE physical
    lines than records (every note embeds one newline), so a plain
    line-oriented reader could not have parsed it."""
    import glob
    import os

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        _R19_N_DOCS,
        r19_multiline_csv_ingest,
    )
    from nlp_data_pipeline_spark.scratch import scratch_path

    r19_multiline_csv_ingest(spark, sf_dir).collect()
    files = glob.glob(
        os.path.join(scratch_path(f"multiline_csv_{os.getpid()}"), "*.csv")
    )
    assert files
    n_lines = sum(open(f).read().count("\n") for f in files)
    # header + N records x 2 physical lines each
    assert n_lines == 1 + 2 * _R19_N_DOCS


def test_q54_matches_duckdb_oracle(spark, sf_dir):
    """q54 SCD2 dimension build: change detection + validity stitching
    must agree exactly."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q54_SQL,
        q54_scd2_dimension_build,
    )

    got = [tuple(r) for r in q54_scd2_dimension_build(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(Q54_SQL).fetchall()
    ]
    assert len(got) > 1 and got == want


def test_q54_scd2_invariants(spark, sf_dir):
    """SCD2 algebra: versions are dense 1..n per key, intervals chain
    exactly (valid_to == next valid_from), exactly one current version
    per key (the last), and consecutive versions always change the
    attribute (no duplicate-collapse misses)."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q54_scd2_dimension_build,
    )

    by_user = {}
    for r in q54_scd2_dimension_build(spark, sf_dir).collect():
        by_user.setdefault(r["user_id"], []).append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rs] == list(range(1, len(rs) + 1))
        assert sum(1 for r in rs if r["is_current"]) == 1
        assert rs[-1]["is_current"] and rs[-1]["valid_to"] is None
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["attr_value"] != b["attr_value"]
            assert not a["is_current"]


def test_d23_matches_duckdb_oracle(spark, sf_dir):
    """d23 best-copy dedup policy: the per-cluster argmax must agree
    engine-exactly."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D23_SQL,
        d23_best_copy_dedup,
    )

    got = [tuple(r) for r in d23_best_copy_dedup(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D23_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_d23_keeper_is_longest_member(spark, sf_dir):
    """Policy semantics: every cluster's keeper is a member with the
    maximum n_chars (smallest doc_id on ties), clusters cover exactly
    the d06 membership, and the policy demonstrably differs from
    first-copy on this corpus (else the op proves nothing)."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d06_neardup_clusters,
        d23_best_copy_dedup,
    )

    rows = d23_best_copy_dedup(spark, sf_dir).collect()
    chars = dict(
        _duck(sf_dir).execute("SELECT doc_id, n_chars FROM documents").fetchall()
    )
    members = {}
    for m in d06_neardup_clusters(spark, sf_dir).collect():
        members.setdefault(m["cluster_id"], []).append(m["doc_id"])
    assert {r["cluster_id"] for r in rows} == set(members)
    for r in rows:
        docs = members[r["cluster_id"]]
        assert len(docs) == r["n_members"]
        best = min(docs, key=lambda d: (-chars[d], d))
        assert r["keeper_doc_id"] == best
        assert r["keeper_chars"] == chars[best] == max(chars[d] for d in docs)
        assert r["min_chars"] == min(chars[d] for d in docs)
        assert r["differs_from_first_copy"] == (best != min(docs))
    assert any(r["differs_from_first_copy"] for r in rows)


def test_d24_matches_duckdb_oracle(spark, sf_dir):
    """d24 alternating-stars CC: its oracle IS D06_SQL — the O(log n)
    build must reproduce the flooding clustering byte-for-byte."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D24_SQL,
        d24_cc_alternating_stars,
    )

    got = [tuple(r) for r in d24_cc_alternating_stars(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D24_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_d24_equals_d06_clustering(spark, sf_dir):
    """Algorithm equivalence on the real graph: alternating stars and
    label-propagation flooding produce the identical relation."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d06_neardup_clusters,
        d24_cc_alternating_stars,
    )

    a = [tuple(r) for r in d24_cc_alternating_stars(spark, sf_dir).collect()]
    b = [tuple(r) for r in d06_neardup_clusters(spark, sf_dir).collect()]
    assert a == b


def test_d24_converges_fast_on_a_chain(spark):
    """The scale claim itself: a 64-node PATH graph (diameter 63, the
    flooding worst case) must collapse to ONE star in far fewer than
    diameter rounds — alternating stars converge in O(log n)."""
    from pyspark.sql import functions as F

    from nlp_data_pipeline_spark.operators.dedup import _d24_canon, _d24_star

    n = 64
    e = _d24_canon(
        spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "u long, v long"
        )
    ).localCheckpoint()
    rounds = 0
    for _ in range(10):  # far below the 63-round flooding bound
        nxt = _d24_star(_d24_star(e, larger=True), larger=False).localCheckpoint()
        rounds += 1
        if (
            nxt.join(e, ["u", "v"], "left_anti").count() == 0
            and e.join(nxt, ["u", "v"], "left_anti").count() == 0
        ):
            e = nxt
            break
        e = nxt
    else:
        raise AssertionError("chain did not converge in 10 alternating rounds")
    # fixpoint is a single star centered at 0: every node links to 0
    rows = sorted(tuple(r) for r in e.collect())
    assert rows == [(0, v) for v in range(1, n)]
    assert rounds <= 10


def test_t50_matches_duckdb_oracle(spark, sf_dir):
    """t50 length-bucketed batching: bucket assignment is a pure-integer
    CASE chain, engine-exact."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T50_SQL,
        t50_length_bucketed_batches,
    )

    got = [tuple(r) for r in t50_length_bucketed_batches(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T50_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_t50_bucket_accounting(spark, sf_dir):
    """Bucketed-batching algebra: buckets are from the declared grid,
    doc counts total the corpus, batches cover their docs at the batch
    size, pad + effective = n_docs x bucket_len, and every doc's
    effective length fits its bucket."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T50_BATCH,
        _T50_BUCKETS,
        t50_length_bucketed_batches,
    )

    rows = t50_length_bucketed_batches(spark, sf_dir).collect()
    n_docs_total = _duck(sf_dir).execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_docs_total
    for r in rows:
        assert r["bucket_len"] in _T50_BUCKETS
        assert r["n_batches"] == -(-r["n_docs"] // _T50_BATCH)
        assert r["pad_tokens"] + r["eff_tokens"] == r["n_docs"] * r["bucket_len"]
        assert 0 <= r["pad_tokens"] < r["n_docs"] * r["bucket_len"]


def test_q55_matches_duckdb_oracle(spark, sf_dir):
    """q55 effectivity join: the interval-predicate join must agree
    engine-exactly."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q55_SQL,
        q55_effectivity_join,
    )

    got = [tuple(r) for r in q55_effectivity_join(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(Q55_SQL).fetchall()
    ]
    assert len(got) > 1 and got == want


def test_q55_intervals_partition_the_timeline(spark, sf_dir):
    """The temporal-consistency proof: every event of every tracked
    user joins exactly one dimension version (totals reconcile with
    raw per-user counts — fails on any interval overlap or gap), the
    version's opening event always matches its attribute, and version
    coverage equals the q54 dimension exactly."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q54_scd2_dimension_build,
        q55_effectivity_join,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    rows = q55_effectivity_join(spark, sf_dir).collect()
    totals = {
        r["user_id"]: r["count"]
        for r in load_table(spark, sf_dir, "events")
        .filter("user_id < 20 AND ts IS NOT NULL")
        .groupBy("user_id")
        .count()
        .collect()
    }
    by_user = {}
    for r in rows:
        assert 1 <= r["n_same_attr"] <= r["n_events"]
        by_user.setdefault(r["user_id"], []).append(r)
    assert {u: sum(r["n_events"] for r in rs) for u, rs in by_user.items()} == totals
    dim = q54_scd2_dimension_build(spark, sf_dir).collect()
    assert {(d["user_id"], d["version"]) for d in dim} == {
        (r["user_id"], r["version"]) for r in rows
    }


def test_p07_matches_duckdb_oracle(spark, sf_dir):
    """p07 dataset card: every cell is an exact count, engine-exact."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        P07_SQL,
        p07_dataset_card,
    )

    got = [tuple(r) for r in p07_dataset_card(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(P07_SQL).fetchall()]
    assert len(got) > 1 and got == want


def test_p07_card_reconciles_with_d01(spark, sf_dir):
    """Cross-op accounting: the card's per-source dup load totals the
    corpus-wide d01 exact-dedup excess (copies beyond each content
    hash's keeper), doc counts cover the corpus, and unique + dup =
    docs per source."""
    from nlp_data_pipeline_spark.operators.dedup import d01_exact_dedup
    from nlp_data_pipeline_spark.operators.doc_pipeline import p07_dataset_card

    rows = p07_dataset_card(spark, sf_dir).collect()
    n_total = _duck(sf_dir).execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_total
    for r in rows:
        assert r["n_unique_texts"] + r["n_exact_dup_docs"] == r["n_docs"]
        assert r["n_langs"] >= 1
    d01_excess = sum(
        r["n_copies"] - 1 for r in d01_exact_dedup(spark, sf_dir).collect()
    )
    # per-source dup sums can only under-count the global excess when a
    # text repeats ACROSS sources (each source still sees it once)
    assert sum(r["n_exact_dup_docs"] for r in rows) <= d01_excess


def test_s27_matches_duckdb_oracle(spark, sf_dir):
    """s27 IVF+PQ search: cluster confinement + ADC table lookups must
    compose engine-exactly."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S27_SQL,
        s27_ivfpq_search,
    )

    got = [tuple(r) for r in s27_ivfpq_search(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S27_SQL).fetchall()
    ]
    assert len(got) > 1 and got == want


def test_s27_composes_s07_confinement_with_s11_scoring(spark, sf_dir):
    """Composition semantics: every result vector lives in one of its
    query's probed clusters (s04 assignment / s07 probe rule), its ADC
    distance equals s11's full-scan ADC for that (query, vector) pair,
    and per query there are exactly TOP_K ranked results."""
    from nlp_data_pipeline_spark.operators.similarity import (
        NPROBE,
        TOP_K,
        s04_ivf_assign,  # noqa: F401 (assignment rule documented by s04)
        s11_pq_adc_search,
        s27_ivfpq_search,
    )

    rows = s27_ivfpq_search(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert [r["nn_rank"] for r in sorted(rs, key=lambda r: r["nn_rank"])] == list(
            range(1, TOP_K + 1)
        )
    full = {
        (r["query_id"], r["vec_id"]): r["adc_d2"]
        for r in s11_pq_adc_search(spark, sf_dir).collect()
    }
    # s11 declares only its own top-k, so compare on the intersection —
    # any shared (query, vec) pair must carry the identical ADC value
    shared = [r for r in rows if (r["query_id"], r["vec_id"]) in full]
    assert shared, "confined and full-scan top-k should overlap"
    for r in shared:
        assert r["adc_d2"] == full[(r["query_id"], r["vec_id"])]
    assert NPROBE < 16  # confinement is real: fewer than all clusters


def test_a08_matches_duckdb_oracle(spark, sf_dir):
    """a08 KMV merge: the Spark side computes the global sketch ONLY
    through the per-source merge path, the oracle directly — hash
    equality proves the merge law."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A08_SQL,
        a08_kmv_sketch_merge,
    )

    got = [tuple(r) for r in a08_kmv_sketch_merge(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(A08_SQL).fetchall()]
    assert len(got) == 1 and got == want


def test_a08_merge_equals_direct_python_recompute(spark, sf_dir):
    """Pure-Python proof of the same law: the k-th smallest hash of the
    union of per-source k-smallest sets equals the k-th smallest over
    the global distinct domain."""
    import hashlib as hl

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        KMV_K,
        a08_kmv_sketch_merge,
    )
    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    r = a08_kmv_sketch_merge(spark, sf_dir).collect()[0]
    docs = _duck(sf_dir).execute(
        f"SELECT source, {_CLEAN_SQL} FROM documents"
    ).fetchall()
    per_src, global_set = {}, set()
    for source, ctext in docs:
        toks = [t for t in ctext.split(" ") if t != ""]
        bgs = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        per_src.setdefault(source, set()).update(bgs)
        global_set.update(bgs)

    def hkey(bg):
        return (int(hl.md5(bg.encode()).hexdigest()[:8], 16), bg)

    direct = sorted(hkey(b) for b in global_set)[KMV_K - 1][0]
    merged_pool = set()
    for bgs in per_src.values():
        merged_pool.update(sorted(bgs, key=hkey)[:KMV_K])
    merged = sorted(hkey(b) for b in merged_pool)[KMV_K - 1][0]
    assert merged == direct == r["kth_hash"]
    assert r["exact_distinct"] == len(global_set)


def test_q53_exact_gap_boundary_merges(spark):
    """The boundary the corpus can never produce (exact-gap pairs are
    measure-zero with microsecond timestamps): an event at EXACTLY
    prev + 30min MERGES into the running session; one microsecond
    later opens a new one. Pins Spark's session_window semantics and
    the oracle's strictly-greater closing rule together."""
    import datetime

    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    gap = datetime.timedelta(minutes=30)
    us = datetime.timedelta(microseconds=1)
    df = spark.createDataFrame(
        [
            (1, 1, t0),
            (2, 1, t0 + gap),            # exactly at gap -> merges
            (3, 2, t0),
            (4, 2, t0 + gap + us),       # one us past gap -> new session
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
        .orderBy("user_id", "n")
        .collect()
    )
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n"])
    assert per_user[1] == [2]      # merged: one session of 2
    assert per_user[2] == [1, 1]   # split: two singleton sessions


def test_q56_matches_duckdb_oracle(spark, sf_dir):
    """q56 small-file compaction: both phases' layouts must satisfy the
    declared file contracts with rows conserved."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q56_SQL,
        q56_small_file_compaction,
    )

    got = [tuple(r) for r in q56_small_file_compaction(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(Q56_SQL).fetchall()]
    assert len(got) == 2 and got == want


def test_q56_compaction_preserves_rows_on_disk(spark, sf_dir):
    """Direct disk check: the fragmented dir really holds FRAG parquet
    files and the compacted dir COMPACT, and both read back the same
    sorted doc_id multiset."""
    import glob
    import os

    from nlp_data_pipeline_spark.operators.relational_ext import (
        _Q56_COMPACT,
        _Q56_FRAG,
        q56_small_file_compaction,
    )
    from nlp_data_pipeline_spark.scratch import scratch_path

    q56_small_file_compaction(spark, sf_dir).collect()
    root = scratch_path(f"q56_{os.getpid()}")
    frag_files = glob.glob(os.path.join(root, "frag", "*.parquet"))
    compact_files = glob.glob(os.path.join(root, "compact", "*.parquet"))
    assert len(frag_files) == _Q56_FRAG
    assert len(compact_files) == _Q56_COMPACT
    a = sorted(r["doc_id"] for r in spark.read.parquet(os.path.join(root, "frag")).collect())
    b = sorted(r["doc_id"] for r in spark.read.parquet(os.path.join(root, "compact")).collect())
    assert a == b


def test_d25_matches_duckdb_oracle(spark, sf_dir):
    """d25 lexical x semantic overlap: the 2x2 contingency must agree
    engine-exactly with all three category rows always present."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D25_SQL,
        d25_lexical_semantic_overlap,
    )

    got = [tuple(r) for r in d25_lexical_semantic_overlap(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("documents", "embeddings"))
        .execute(D25_SQL)
        .fetchall()
    ]
    assert [r[0] for r in got] == ["both", "lexical_only", "semantic_only"]
    assert got == want


def test_d25_reconciles_with_both_pair_ops(spark, sf_dir):
    """Accounting against the source ops: both + lexical_only equals
    d03's embedded-pair count, both + semantic_only equals s06's pair
    count, and on THIS corpus (embeddings independent of text) the
    tiers are disjoint — 'both' is exactly zero, the honest expected
    value that any table misalignment would disturb."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d03_lsh_candidate_pairs,
        d25_lexical_semantic_overlap,
    )
    from nlp_data_pipeline_spark.operators.similarity import (
        s06_embedding_neardup_pairs,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    cat = {r["category"]: r["n_pairs"] for r in d25_lexical_semantic_overlap(spark, sf_dir).collect()}
    emb_ids = {
        r["vec_id"] for r in load_table(spark, sf_dir, "embeddings").select("vec_id").collect()
    }
    lex_embedded = sum(
        1
        for r in d03_lsh_candidate_pairs(spark, sf_dir).collect()
        if r["doc_a"] in emb_ids and r["doc_b"] in emb_ids
    )
    n_sem = s06_embedding_neardup_pairs(spark, sf_dir).count()
    assert cat["both"] + cat["lexical_only"] == lex_embedded
    assert cat["both"] + cat["semantic_only"] == n_sem
    assert cat["both"] == 0


def test_t51_matches_duckdb_oracle(spark, sf_dir):
    """t51 tokenizer fertility: masses are exact BIGINT sums, ratios
    single IEEE divisions."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T51_SQL,
        t51_token_fertility,
    )

    got = [tuple(r) for r in t51_token_fertility(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T51_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_t51_fertility_algebra(spark, sf_dir):
    """Masses are positive, chars never exceed bytes (UTF-8), and each
    declared ratio equals the quotient of its declared integer masses
    bit-for-bit (the no-round() discipline)."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t51_token_fertility,
    )

    rows = t51_token_fertility(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        assert 0 < r["total_tokens"] <= r["total_chars"] <= r["total_bytes"]
        assert r["bytes_per_token"] == r["total_bytes"] / r["total_tokens"]
        assert r["chars_per_doc"] == r["total_chars"] / r["n_docs"]
        assert r["all_ascii"] == (r["total_bytes"] == r["total_chars"])


def test_t52_matches_duckdb_oracle(spark, sf_dir):
    """t52 lang-ID confusion matrix: the oracle composes the
    already-green T07 SQL as a CTE."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T52_SQL,
        t52_lang_confusion,
    )

    got = [tuple(r) for r in t52_lang_confusion(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T52_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_t52_cells_total_the_corpus(spark, sf_dir):
    """Confusion cells partition the corpus: cell counts sum to the
    doc count, per-label totals are consistent across a label's cells,
    and is_correct marks exactly the diagonal."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t52_lang_confusion,
    )

    rows = t52_lang_confusion(spark, sf_dir).collect()
    n_docs = _duck(sf_dir).execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    by_label = {}
    for r in rows:
        by_label.setdefault(r["labeled_lang"], []).append(r)
        assert r["is_correct"] == (r["labeled_lang"] == r["pred_lang"])
    for label, cells in by_label.items():
        assert all(c["labeled_total"] == sum(x["n_docs"] for x in cells) for c in cells)


def test_a09_matches_duckdb_oracle(spark, sf_dir):
    """a09 pairwise KMV intersection: both engines compute the same
    deterministic md5 order-statistics estimate value-for-value (the
    a06/a08 pattern)."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A09_SQL,
        a09_kmv_intersection,
    )

    got = [tuple(r) for r in a09_kmv_intersection(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(A09_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_a09_estimator_algebra(spark, sf_dir):
    """Every source pair appears exactly once, ρ is bounded by k, and
    the intersection estimate is ρ/k of the union estimate (so it can
    never exceed it)."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        KMV_K,
        a09_kmv_intersection,
    )

    rows = a09_kmv_intersection(spark, sf_dir).collect()
    n_src = _duck(sf_dir).execute(
        "SELECT COUNT(DISTINCT source) FROM documents"
    ).fetchone()[0]
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["rho"] <= KMV_K
        assert r["kmv_inter_est"] <= r["kmv_union_est"]
        assert r["exact_intersection"] >= 0
        if r["rho"] == 0:
            assert r["kmv_inter_est"] == 0.0


def test_s28_matches_duckdb_oracle(spark, sf_dir):
    """s28 binary-quantized search: packing, XOR+popcount ranks, and the
    exact re-score must match DuckDB."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S28_SQL,
        s28_binary_hamming_search,
    )

    got = [tuple(r) for r in s28_binary_hamming_search(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S28_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_s28_hamming_against_numpy(spark, sf_dir):
    """Independent ground truth: the declared hamming distances equal
    a numpy sign-bit disagreement count recomputed from the raw
    parquet, and ranks are monotone in hamming."""
    import numpy as np

    from nlp_data_pipeline_spark.operators.similarity import (
        s28_binary_hamming_search,
    )

    raw = _duck(sf_dir, views=("embeddings",)).execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    signs = {vid: np.asarray(emb, dtype=np.float64) > 0 for vid, emb in raw}
    rows = s28_binary_hamming_search(spark, sf_dir).collect()
    assert len(rows) >= 1
    prev = {}
    for r in rows:
        expect = int(np.sum(signs[r["query_id"]] != signs[r["vec_id"]]))
        assert r["hamming"] == expect
        assert 0 <= r["hamming"] <= 64
        assert -1.0 <= r["exact_cosine"] <= 1.0
        if r["query_id"] in prev:
            assert r["hamming"] >= prev[r["query_id"]]
        prev[r["query_id"]] = r["hamming"]


def test_d26_matches_duckdb_oracle(spark, sf_dir):
    """d26 LSH recall eval: truth is computed independently of LSH via
    the capped-postings machinery."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D26_SQL,
        d26_lsh_recall_eval,
    )

    got = [tuple(r) for r in d26_lsh_recall_eval(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D26_SQL).fetchall()]
    assert len(got) == 1 and got == want


def test_d26_count_algebra(spark, sf_dir):
    """Caught pairs are bounded by both relations, n_missed closes the
    truth set, and each declared ratio is the exact quotient of its
    declared integer counts."""
    from nlp_data_pipeline_spark.operators.dedup import d26_lsh_recall_eval

    r = d26_lsh_recall_eval(spark, sf_dir).collect()[0]
    assert 0 <= r["n_caught"] <= min(r["n_true_pairs"], r["n_candidates"])
    assert r["n_missed"] == r["n_true_pairs"] - r["n_caught"]
    if r["n_true_pairs"] > 0:
        assert r["recall"] == r["n_caught"] / r["n_true_pairs"]
    if r["n_candidates"] > 0:
        assert r["precision"] == r["n_caught"] / r["n_candidates"]


def test_e23_matches_duckdb_oracle(spark, sf_dir):
    """e23 sequenced funnel: four chained conditional window minima over
    one user partitioning."""
    from nlp_data_pipeline_spark.operators.events import (
        E23_SQL,
        e23_conversion_funnel,
    )

    got = [tuple(r) for r in e23_conversion_funnel(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(E23_SQL).fetchall()
    ]
    assert len(got) == 4 and got == want


def test_e23_funnel_is_monotone(spark, sf_dir):
    """A sequenced funnel can only narrow: stage counts are
    non-increasing, stage 1 converts at exactly 1.0, and a user
    counted at stage k implies the stage-(k-1) prerequisite."""
    from nlp_data_pipeline_spark.operators.events import e23_conversion_funnel

    rows = sorted(
        e23_conversion_funnel(spark, sf_dir).collect(), key=lambda r: r["stage"]
    )
    assert [r["stage_name"] for r in rows] == ["signup", "view", "click", "purchase"]
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    if counts[0] > 0:
        assert rows[0]["frac_of_signups"] == 1.0
        for r in rows:
            assert 0.0 <= r["frac_of_signups"] <= 1.0


def test_e23_sequencing_beats_naive_first_ts(spark):
    """Crafted corpus: a user whose purchase precedes every view must
    NOT convert the purchase stage (the naive per-type first-timestamp
    funnel would count it)."""
    import datetime

    from nlp_data_pipeline_spark.operators import events as ev

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1: full in-order funnel
        (1, t0, "signup"), (1, t0 + datetime.timedelta(minutes=1), "view"),
        (1, t0 + datetime.timedelta(minutes=2), "click"),
        (1, t0 + datetime.timedelta(minutes=3), "purchase"),
        # user 2: purchase BEFORE any view — reaches only stage 2
        (2, t0, "signup"), (2, t0 + datetime.timedelta(minutes=1), "purchase"),
        (2, t0 + datetime.timedelta(minutes=2), "view"),
        (2, t0 + datetime.timedelta(minutes=3), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    import unittest.mock as mock

    with mock.patch.object(ev, "load_table", lambda *_args, **_kw: df):
        got = {
            r["stage_name"]: r["n_users"]
            for r in ev.e23_conversion_funnel(spark, "unused").collect()
        }
    assert got == {"signup": 2, "view": 2, "click": 2, "purchase": 1}


def test_r20_matches_duckdb_oracle(spark, sf_dir):
    """r20 schema-evolution merge: mergeSchema widens legacy files with
    NULLs, audited per source."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        R20_SQL,
        r20_schema_evolution_merge,
    )

    got = [tuple(r) for r in r20_schema_evolution_merge(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(R20_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_r20_widening_conserves_rows(spark, sf_dir):
    """The merged read loses nothing: evolved+legacy = total per
    source, and totals reconcile with the raw table."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        r20_schema_evolution_merge,
    )

    rows = r20_schema_evolution_merge(spark, sf_dir).collect()
    n_docs = _duck(sf_dir).execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert sum(r["n_rows"] for r in rows) == n_docs
    for r in rows:
        assert r["n_evolved"] + r["n_legacy"] == r["n_rows"]


def test_t53_matches_duckdb_oracle(spark, sf_dir):
    """t53 token-mass Gini: rank-weighted sums are exact BIGINTs, G is
    one IEEE division."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T53_SQL,
        t53_token_gini,
    )

    got = [tuple(r) for r in t53_token_gini(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T53_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_t53_gini_algebra(spark, sf_dir):
    """For non-negative data the Gini lies in [0, 1), the declared
    scalar is exactly the quotient of its declared integers, and the
    rank-weighted sum is bounded by its algebraic extremes."""
    from nlp_data_pipeline_spark.operators.text_analytics import t53_token_gini

    rows = t53_token_gini(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        n, s, rws = r["n_docs"], r["total_tokens"], r["rank_weighted_sum"]
        assert s <= rws <= n * s
        assert r["gini"] == (2 * rws - (n + 1) * s) / (n * s)
        assert 0.0 <= r["gini"] < 1.0


def test_q57_matches_duckdb_oracle(spark, sf_dir):
    """q57 running-distinct workaround: the first-occurrence-flag +
    running-sum trick must match DuckDB."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q57_SQL,
        q57_running_distinct,
    )

    got = [tuple(r) for r in q57_running_distinct(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(Q57_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_q57_coverage_semantics(spark, sf_dir):
    """Distinct counts are bounded by the catalog, full-coverage time
    exists iff the user is fully covered, and per-user event counts
    total the corpus."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q57_running_distinct,
    )

    rows = q57_running_distinct(spark, sf_dir).collect()
    n_events = _duck(sf_dir, views=("events",)).execute(
        "SELECT COUNT(*) FROM events"
    ).fetchone()[0]
    assert sum(r["n_events"] for r in rows) == n_events
    for r in rows:
        assert 1 <= r["n_distinct_types"] <= r["n_catalog"]
        assert r["fully_covered"] == (r["n_distinct_types"] == r["n_catalog"])
        assert (r["full_coverage_ts"] is not None) == r["fully_covered"]


def test_m12_matches_duckdb_oracle(spark, sf_dir):
    """m12 WebDataset tar index: the kernel's parsed offsets must match
    the closed-form TAR layout recomputed by DuckDB from the raw
    documents."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        M12_SQL,
        m12_webdataset_tar_index,
    )

    got = [tuple(r) for r in m12_webdataset_tar_index(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(M12_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_m12_tar_layout_invariants(spark, sf_dir):
    """TAR structure: offsets are 512-aligned, data follows its header
    by exactly one block, and members are non-overlapping in order."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        _M12_N_DOCS,
        m12_webdataset_tar_index,
    )

    rows = sorted(
        m12_webdataset_tar_index(spark, sf_dir).collect(),
        key=lambda r: r["header_offset"],
    )
    assert len(rows) == _M12_N_DOCS
    prev_end = 0
    for r in rows:
        assert r["header_offset"] % 512 == 0
        assert r["data_offset"] == r["header_offset"] + 512
        assert r["header_offset"] == prev_end
        prev_end = r["data_offset"] + ((r["size"] + 511) // 512) * 512
        assert len(r["content_sha256"]) == 64


def test_v20_matches_duckdb_oracle(spark, sf_dir):
    """v20 bag-semantics set ops: one shared ANSI text runs on both
    engines (the v18 battery pattern)."""
    from nlp_data_pipeline_spark.operators.sql_api import (
        V20_SQL,
        v20_bag_set_ops,
    )

    got = [tuple(r) for r in v20_bag_set_ops(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(V20_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_v20_bag_identity(spark, sf_dir):
    """Multiset algebra: per type, |A| = |A∩B|_bag + |A∖B|_bag and
    |B| = |A∩B|_bag + |B∖A|_bag."""
    from nlp_data_pipeline_spark.operators.sql_api import v20_bag_set_ops

    rows = v20_bag_set_ops(spark, sf_dir).collect()
    by = {}
    for r in rows:
        by.setdefault(r["event_type"], {})[r["op"]] = r["n"]
    con = _duck(sf_dir, views=("events",))
    n_a = dict(con.execute(
        "SELECT event_type, COUNT(*) FROM events WHERE value > 5 GROUP BY 1"
    ).fetchall())
    n_b = dict(con.execute(
        "SELECT event_type, COUNT(*) FROM events WHERE user_id % 2 = 0 GROUP BY 1"
    ).fetchall())
    types = set(n_a) | set(n_b)
    assert types
    for t in types:
        ops = by.get(t, {})
        inter = ops.get("intersect_all", 0)
        assert n_a.get(t, 0) == inter + ops.get("except_a_minus_b", 0)
        assert n_b.get(t, 0) == inter + ops.get("except_b_minus_a", 0)


def test_e24_matches_duckdb_oracle(spark, sf_dir):
    """e24 late-data accounting: lateness is exact integer microseconds
    against the arrival-order running max."""
    from nlp_data_pipeline_spark.operators.events import (
        E24_SQL,
        e24_late_data_accounting,
    )

    got = [tuple(r) for r in e24_late_data_accounting(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(E24_SQL).fetchall()
    ]
    assert len(got) == 3 and got == want


def test_e24_horizon_monotonicity(spark, sf_dir):
    """A wider watermark can only drop fewer events: n_dropped is
    non-increasing in the horizon, and each fraction is the exact
    quotient of its declared integers."""
    from nlp_data_pipeline_spark.operators.events import e24_late_data_accounting

    rows = sorted(
        e24_late_data_accounting(spark, sf_dir).collect(),
        key=lambda r: r["horizon_s"],
    )
    drops = [r["n_dropped"] for r in rows]
    assert drops == sorted(drops, reverse=True)
    for r in rows:
        assert 0 <= r["n_dropped"] <= r["n_events"]
        assert r["frac_dropped"] == r["n_dropped"] / r["n_events"]


def test_s29_matches_duckdb_oracle(spark, sf_dir):
    """s29 binary-vs-float recall: the oracle composes S01_SQL and
    S28_SQL verbatim as CTEs."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S29_SQL,
        s29_binary_recall_eval,
    )

    got = [tuple(r) for r in s29_binary_recall_eval(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S29_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_s29_recall_bounds(spark, sf_dir):
    """One row per s01 query; hits bounded by the exact top-k; recall
    is the exact quotient."""
    from nlp_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        s29_binary_recall_eval,
    )

    rows = s29_binary_recall_eval(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES
    for r in rows:
        assert r["n_true"] == TOP_K
        assert 0 <= r["n_hits"] <= r["n_true"]
        assert r["recall"] == r["n_hits"] / r["n_true"]


def test_a10_matches_duckdb_oracle(spark, sf_dir):
    """a10 KMV K-curve: all three K arms read the same ranked relation,
    engine-exact like a06."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A10_SQL,
        a10_kmv_k_curve,
    )

    got = [tuple(r) for r in a10_kmv_k_curve(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(A10_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_a10_contains_a06_and_orders_hashes(spark, sf_dir):
    """Sketch containment: the K=64 arm must equal a06's declared
    sketch row per source, and within a source the k-th order
    statistics are strictly increasing in K."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        a06_kmv_distinct_sketch,
        a10_kmv_k_curve,
    )

    curve = a10_kmv_k_curve(spark, sf_dir).collect()
    a06 = {
        r["source"]: (r["exact_distinct"], r["kth_hash"], r["kmv_estimate"])
        for r in a06_kmv_distinct_sketch(spark, sf_dir).collect()
    }
    by_src = {}
    for r in curve:
        by_src.setdefault(r["source"], {})[r["k"]] = r
    assert set(by_src) == set(a06)
    for src, arms in by_src.items():
        assert set(arms) == {16, 32, 64}
        r64 = arms[64]
        assert (
            r64["exact_distinct"], r64["kth_hash"], r64["kmv_estimate"]
        ) == a06[src]
        assert arms[16]["kth_hash"] < arms[32]["kth_hash"] < arms[64]["kth_hash"]


def test_t54_matches_duckdb_oracle(spark, sf_dir):
    """t54 cross-doc duplicate 5-gram deciles: buckets are pure integer
    arithmetic (DIV ≡ // on non-negatives)."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T54_SQL,
        t54_dup_ngram_fraction,
    )

    got = [tuple(r) for r in t54_dup_ngram_fraction(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T54_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_t54_deciles_partition_eligible_docs(spark, sf_dir):
    """Decile counts per source total exactly the docs with ≥5 tokens
    (the 5-gram-eligible universe), and deciles stay in [0, 9]."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t54_dup_ngram_fraction,
    )

    rows = t54_dup_ngram_fraction(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["decile"] <= 9
        assert r["n_docs"] >= 1


def test_d27_matches_duckdb_oracle(spark, sf_dir):
    """d27 1-bit minhash: parity bits and the b-bit correction must
    match DuckDB on the deployed candidates."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D27_SQL,
        d27_bbit_minhash,
    )

    got = [tuple(r) for r in d27_bbit_minhash(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D27_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_d27_estimator_algebra(spark, sf_dir):
    """A full-hash match forces a bit match (n_1bit ≥ n_full), both
    are bounded by H, and each estimate is the declared arithmetic of
    its integer count."""
    from nlp_data_pipeline_spark.operators.dedup import NUM_HASHES, d27_bbit_minhash

    rows = d27_bbit_minhash(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_match_full"] <= r["n_match_1bit"] <= NUM_HASHES
        assert r["est_full"] == r["n_match_full"] / NUM_HASHES
        assert r["est_1bit"] == (2 * r["n_match_1bit"] - NUM_HASHES) / NUM_HASHES


def test_m13_matches_duckdb_oracle(spark, sf_dir):
    """m13 JPEG marker walk: a wrong walk offset garbles every
    downstream field, so hash equality against the closed-form layout is
    the parse proof."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        M13_SQL,
        m13_jpeg_header_parse,
    )

    got = [tuple(r) for r in m13_jpeg_header_parse(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(M13_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_m13_walk_recovers_fields(spark, sf_dir):
    """Every synthesized prefix validates, the COM segment round-trips
    the variable-length source name, and dims obey the generation
    bounds (the walk crossed a variable-length segment to find them)."""
    from nlp_data_pipeline_spark.operators.multimodal import m13_jpeg_header_parse

    rows = m13_jpeg_header_parse(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["valid"] is True
        assert r["comment_text"].startswith("src")
        assert 16 <= r["height"] <= 255 and 16 <= r["width"] <= 135
        assert r["n_components"] == 3


def test_s30_matches_duckdb_oracle(spark, sf_dir):
    """s30 quantization error budget: SQ8 grid rules and the sign proxy
    must match DuckDB on s01's pairs."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S30_SQL,
        s30_quantization_error_budget,
    )

    got = [tuple(r) for r in s30_quantization_error_budget(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S30_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_s30_tier_errors_ordered(spark, sf_dir):
    """8-bit quantization must beat 1-bit on the same pairs in
    aggregate, and SQ8's midpoint error stays small on s01's top
    neighbors (the grid covers the corpus extremes by construction)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        s30_quantization_error_budget,
    )

    rows = s30_quantization_error_budget(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES * TOP_K
    mean_sq8 = sum(r["err_sq8"] for r in rows) / len(rows)
    mean_sign = sum(r["err_sign"] for r in rows) / len(rows)
    assert mean_sq8 < mean_sign
    assert mean_sq8 < 0.01
    for r in rows:
        assert -1.0 <= r["cos_sign"] <= 1.0
        assert r["err_sq8"] >= 0 and r["err_sign"] >= 0


def test_q58_matches_duckdb_oracle(spark, sf_dir):
    """q58 null-skew salting: the oracle is the PLAIN outer join, so the
    hash gate proves salting preserved semantics exactly."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q58_SQL,
        q58_null_skew_outer_join,
    )

    got = [tuple(r) for r in q58_null_skew_outer_join(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(Q58_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_q58_null_keys_never_match(spark, sf_dir):
    """Salted nulls land outside the dimension's key domain: matched +
    null-key rows can overlap with nothing, so n_matched + n_null_key
    ≤ n_rows with equality iff every non-null key resolves."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q58_null_skew_outer_join,
    )

    rows = q58_null_skew_outer_join(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_matched"] + r["n_null_key"] <= r["n_rows"]
        # every user_id in events exists in the self-derived dim, so
        # all non-null keys must match
        assert r["n_matched"] == r["n_rows"] - r["n_null_key"]


def test_r21_matches_duckdb_oracle(spark, sf_dir):
    """r21 PERMISSIVE malformed-CSV audit: the quarantine split must
    equal the closed-form generation rule."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        R21_SQL,
        r21_permissive_csv_audit,
    )

    got = [tuple(r) for r in r21_permissive_csv_audit(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(R21_SQL).fetchall()]
    assert len(got) == 1 and got == want


def test_r21_quarantine_conserves_rows(spark, sf_dir):
    """PERMISSIVE mode loses nothing: good + corrupt = all staged
    lines, and exactly the 1-in-5 malformed rows are quarantined."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        _R21_N_DOCS,
        r21_permissive_csv_audit,
    )

    r = r21_permissive_csv_audit(spark, sf_dir).collect()[0]
    n_staged = _duck(sf_dir).execute(
        f"SELECT COUNT(*) FROM documents WHERE doc_id < {_R21_N_DOCS}"
    ).fetchone()[0]
    assert r["n_rows"] == n_staged
    assert r["n_good"] + r["n_corrupt"] == r["n_rows"]
    assert r["n_corrupt"] == sum(
        1 for i in range(min(_R21_N_DOCS, n_staged)) if i % 5 == 0
    )


def test_d28_matches_duckdb_oracle(spark, sf_dir):
    """d28 edit-distance verify: Levenshtein is a uniquely-defined
    integer so the tier is oracle-exact."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D28_SQL,
        d28_edit_distance_verify,
    )

    got = [tuple(r) for r in d28_edit_distance_verify(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D28_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_d28_metric_properties(spark, sf_dir):
    """Levenshtein bounds: |len_a − len_b| ≤ dist ≤ max(len), and the
    normalized similarity is the declared quotient in [0, 1]."""
    from nlp_data_pipeline_spark.operators.dedup import d28_edit_distance_verify

    rows = d28_edit_distance_verify(spark, sf_dir).collect()
    assert rows
    for r in rows:
        mx = max(r["len_a"], r["len_b"])
        assert abs(r["len_a"] - r["len_b"]) <= r["edit_distance"] <= mx
        if mx > 0:
            assert r["norm_similarity"] == 1.0 - r["edit_distance"] / mx
        assert 0.0 <= r["norm_similarity"] <= 1.0


def test_t55_matches_duckdb_oracle(spark, sf_dir):
    """t55 character-class mix: explicit ASCII classes only (no
    \\w-style shorthands — the regex-parity rule)."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T55_SQL,
        t55_char_class_mix,
    )

    got = [tuple(r) for r in t55_char_class_mix(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T55_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_t55_masses_partition_chars(spark, sf_dir):
    """Class masses are non-negative, sum to the total (other is the
    exact remainder), and frac_alpha is the declared quotient."""
    from nlp_data_pipeline_spark.operators.text_analytics import t55_char_class_mix

    rows = t55_char_class_mix(spark, sf_dir).collect()
    assert rows
    for r in rows:
        parts = [r["n_lower"], r["n_upper"], r["n_digit"], r["n_space"], r["n_other"]]
        assert all(p >= 0 for p in parts)
        assert sum(parts) == r["total_chars"]
        assert r["frac_alpha"] == (r["n_lower"] + r["n_upper"]) / r["total_chars"]


def test_p08_matches_duckdb_oracle(spark, sf_dir):
    """p08 curation waterfall: the oracle composes P04_SQL verbatim so
    both sides share verdict rules."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        P08_SQL,
        p08_curation_waterfall,
    )

    got = [tuple(r) for r in p08_curation_waterfall(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(P08_SQL).fetchall()]
    assert len(got) == 4 and got == want


def test_p08_waterfall_reconciles_with_p04(spark, sf_dir):
    """Cumulative arithmetic: surviving after each stage decreases by
    exactly that stage's drops, and the final survivors equal p04's
    kept count."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        p04_curation_pipeline,
        p08_curation_waterfall,
    )

    rows = sorted(
        p08_curation_waterfall(spark, sf_dir).collect(), key=lambda r: r["stage"]
    )
    verdicts = p04_curation_pipeline(spark, sf_dir).collect()
    total = len(verdicts)
    kept = sum(1 for v in verdicts if v["keep"])
    surviving = total
    for r in rows:
        surviving -= r["n_dropped"]
        assert r["n_surviving"] == surviving
    assert rows[-1]["n_surviving"] == kept


def test_a11_matches_duckdb_oracle(spark, sf_dir):
    """a11 Bloom FPR curve: filter state and measured FPR are md5
    integer arithmetic, engine-exact."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A11_SQL,
        a11_bloom_fpr_curve,
    )

    got = [tuple(r) for r in a11_bloom_fpr_curve(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(A11_SQL).fetchall()]
    assert len(got) == 3 and got == want


def test_a11_fpr_decreases_with_bits(spark, sf_dir):
    """More bits can only help: FPR is non-increasing in m, bits set
    are bounded by both 2·members and m, and fpr is the declared
    quotient."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import a11_bloom_fpr_curve

    rows = sorted(
        a11_bloom_fpr_curve(spark, sf_dir).collect(), key=lambda r: r["m_bits"]
    )
    fprs = [r["fpr"] for r in rows]
    assert fprs == sorted(fprs, reverse=True)
    for r in rows:
        assert 0 < r["n_bits_set"] <= min(2 * r["n_members"], r["m_bits"])
        assert r["fpr"] == r["n_false_pos"] / r["n_probes"]


def test_e25_matches_duckdb_oracle(spark, sf_dir):
    """e25 transition matrix: lag over the exact (ts, event_id) total
    order, integer counts, one division."""
    from nlp_data_pipeline_spark.operators.events import (
        E25_SQL,
        e25_transition_matrix,
    )

    got = [tuple(r) for r in e25_transition_matrix(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(E25_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_e25_rows_are_distributions(spark, sf_dir):
    """Each from_type's probabilities sum to 1, transitions total
    events minus one per user, and every prob is the declared
    quotient."""
    from nlp_data_pipeline_spark.operators.events import e25_transition_matrix

    rows = e25_transition_matrix(spark, sf_dir).collect()
    con = _duck(sf_dir, views=("events",))
    n_events, n_users = con.execute(
        "SELECT COUNT(*), COUNT(DISTINCT user_id) FROM events"
    ).fetchone()
    assert sum(r["n_transitions"] for r in rows) == n_events - n_users
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
        assert r["prob"] == r["n_transitions"] / r["from_total"]
    for cells in by_from.values():
        assert cells[0]["from_total"] == sum(c["n_transitions"] for c in cells)
        assert abs(sum(c["prob"] for c in cells) - 1.0) < 1e-9


def test_v21_matches_duckdb_oracle(spark, sf_dir):
    """v21 observe() metrics: equality with the plain-SQL aggregates
    proves the observation saw every row of the write exactly once."""
    from nlp_data_pipeline_spark.operators.sql_api import (
        V21_SQL,
        v21_observe_metrics,
    )

    got = [tuple(r) for r in v21_observe_metrics(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(V21_SQL).fetchall()
    ]
    assert len(got) == 1 and got == want


def test_v21_observation_rides_the_write(spark, sf_dir):
    """The observed row count equals the rows actually landed by the
    action the observation rode (read the staged parquet back)."""
    import os

    from nlp_data_pipeline_spark.operators.sql_api import v21_observe_metrics
    from nlp_data_pipeline_spark.scratch import scratch_path

    r = v21_observe_metrics(spark, sf_dir).collect()[0]
    landed = spark.read.parquet(scratch_path(f"v21_{os.getpid()}")).count()
    assert r["n_rows"] == landed
    assert r["n_signups"] <= r["n_rows"]


def test_new_staged_hot_paths_are_python_free(spark, sf_dir):
    """The new quantization/dedup/profile operators stay entirely in
    JVM expressions: no Python evaluation stage, no cartesian product
    anywhere in their plans (m12's tarfile kernel is the documented
    exception and is not in this list)."""
    from nlp_data_pipeline_spark.plans.explain import formatted_plan
    from nlp_data_pipeline_spark.operators.dedup import (
        d26_lsh_recall_eval,
        d27_bbit_minhash,
        d28_edit_distance_verify,
    )
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        a09_kmv_intersection,
        a11_bloom_fpr_curve,
    )
    from nlp_data_pipeline_spark.operators.similarity import (
        s28_binary_hamming_search,
        s30_quantization_error_budget,
    )
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t54_dup_ngram_fraction,
        t55_char_class_mix,
    )

    for op in (
        s28_binary_hamming_search,
        s30_quantization_error_budget,
        d26_lsh_recall_eval,
        d27_bbit_minhash,
        d28_edit_distance_verify,
        a09_kmv_intersection,
        a11_bloom_fpr_curve,
        t54_dup_ngram_fraction,
        t55_char_class_mix,
    ):
        plan = formatted_plan(op(spark, sf_dir))
        assert "BatchEvalPython" not in plan, op.__name__
        assert "ArrowEvalPython" not in plan, op.__name__
        assert "CartesianProduct" not in plan, op.__name__


def test_s28_scan_projects_only_needed_columns(spark, sf_dir):
    """The binary-search corpus scan must not drag the label column:
    ReadSchema carries vec_id + embedding only (column pruning reached
    the parquet scan)."""
    from nlp_data_pipeline_spark.plans.explain import formatted_plan
    from nlp_data_pipeline_spark.operators.similarity import (
        s28_binary_hamming_search,
    )

    plan = formatted_plan(s28_binary_hamming_search(spark, sf_dir))
    assert "label" not in plan


def test_q59_matches_duckdb_oracle(spark, sf_dir):
    """q59 relative-rank battery: all three functions are ANSI-identical
    given the declared total order."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q59_SQL,
        q59_analytic_rank_battery,
    )

    got = [tuple(r) for r in q59_analytic_rank_battery(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("orders", "customer"))
        .execute(Q59_SQL)
        .fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_q59_relative_rank_algebra(spark, sf_dir):
    """Within each segment: pct_rank and cume are in [0,1] and
    non-decreasing along the spend order, quartiles are 1..4
    non-decreasing, and the last row has cume exactly 1.0."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q59_analytic_rank_battery,
    )

    rows = q59_analytic_rank_battery(spark, sf_dir).collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["segment"], []).append(r)
    assert by_seg
    for seg, cells in by_seg.items():
        cells.sort(key=lambda r: (r["spend"], r["custkey"]))
        for a, b in zip(cells, cells[1:]):
            assert a["pct_rank"] <= b["pct_rank"]
            assert a["cume"] <= b["cume"]
            assert a["quartile"] <= b["quartile"]
        assert cells[-1]["cume"] == 1.0
        assert all(1 <= c["quartile"] <= 4 for c in cells)
        assert all(0.0 <= c["pct_rank"] <= 1.0 for c in cells)


def test_r22_matches_duckdb_oracle(spark, sf_dir):
    """r22 wholetext ingestion: per-file sha256 against the source table
    is the byte-exact round-trip proof."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        R22_SQL,
        r22_wholetext_ingest,
    )

    got = [tuple(r) for r in r22_wholetext_ingest(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(R22_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_r22_one_row_per_file(spark, sf_dir):
    """wholetext yields exactly one row per staged file, with the
    filename-recovered doc_id dense over the staged range."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        _R22_N_DOCS,
        r22_wholetext_ingest,
    )

    rows = r22_wholetext_ingest(spark, sf_dir).collect()
    n_staged = _duck(sf_dir).execute(
        f"SELECT COUNT(*) FROM documents WHERE doc_id < {_R22_N_DOCS}"
    ).fetchone()[0]
    assert len(rows) == n_staged
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r0[0]
        for r0 in _duck(sf_dir).execute(
            f"SELECT doc_id FROM documents WHERE doc_id < {_R22_N_DOCS}"
        ).fetchall()
    )


def test_t56_matches_duckdb_oracle(spark, sf_dir):
    """t56 signal correlation: exact BIGINT sufficient statistics, one
    float expression per pair."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T56_SQL,
        t56_signal_correlation,
    )

    got = [tuple(r) for r in t56_signal_correlation(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T56_SQL).fetchall()]
    assert len(got) == 3 and got == want


def test_t56_pearson_properties(spark, sf_dir):
    """r ∈ [−1, 1], equals the declared closed form of the declared
    integers, and byte↔token correlation is strongly positive on any
    natural-language corpus (longer docs have more tokens)."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t56_signal_correlation,
    )

    rows = {r["pair"]: r for r in t56_signal_correlation(spark, sf_dir).collect()}
    import math

    for r in rows.values():
        num = r["n"] * r["sum_xy"] - r["sum_x"] * r["sum_y"]
        d1 = r["n"] * r["sum_x2"] - r["sum_x"] ** 2
        d2 = r["n"] * r["sum_y2"] - r["sum_y"] ** 2
        assert r["pearson_r"] == num / math.sqrt(d1 * d2)
        assert -1.0 <= r["pearson_r"] <= 1.0
    assert rows["bytes~tokens"]["pearson_r"] > 0.9


def test_s31_matches_duckdb_oracle(spark, sf_dir):
    """s31 IVF list balance: the oracle composes S04_SQL verbatim."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S31_SQL,
        s31_ivf_list_balance,
    )

    got = [tuple(r) for r in s31_ivf_list_balance(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S31_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_s31_lists_partition_the_corpus(spark, sf_dir):
    """Every vector lands in exactly one list: member counts total the
    corpus, shares sum to 1, and load factors average exactly 1."""
    from nlp_data_pipeline_spark.operators.similarity import s31_ivf_list_balance

    rows = s31_ivf_list_balance(spark, sf_dir).collect()
    total = rows[0]["total_vecs"]
    assert sum(r["n_vecs"] for r in rows) == total
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["load_factor"] for r in rows) / len(rows) - 1.0) < 1e-9
    for r in rows:
        assert r["load_factor"] == r["n_vecs"] * r["n_lists"] / total


def test_d29_matches_duckdb_oracle(spark, sf_dir):
    """d29 cluster purity: the oracle nests D06_SQL's recursive closure
    as a CTE body."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D29_SQL,
        d29_cluster_purity,
    )

    got = [tuple(r) for r in d29_cluster_purity(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D29_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_d29_purity_algebra(spark, sf_dir):
    """Majority bounded by size, purity the declared quotient in
    (0, 1], pure ⟺ one source ⟺ purity 1, and cluster sizes reconcile
    with d06's declared clustering."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d06_neardup_clusters,
        d29_cluster_purity,
    )

    rows = d29_cluster_purity(spark, sf_dir).collect()
    assert rows
    d06_sizes = {}
    for r in d06_neardup_clusters(spark, sf_dir).collect():
        d06_sizes[r["cluster_id"]] = r["cluster_size"]
    for r in rows:
        assert 1 <= r["n_majority"] <= r["cluster_size"]
        assert r["purity"] == r["n_majority"] / r["cluster_size"]
        assert r["is_pure"] == (r["n_sources"] == 1)
        if r["is_pure"]:
            assert r["purity"] == 1.0
        assert d06_sizes[r["cluster_id"]] == r["cluster_size"]


def test_e26_matches_duckdb_oracle(spark, sf_dir):
    """e26 hour-of-day profile."""
    from nlp_data_pipeline_spark.operators.events import (
        E26_SQL,
        e26_hourly_profile,
    )

    got = [tuple(r) for r in e26_hourly_profile(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(E26_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_e26_shares_are_distributions(spark, sf_dir):
    """Per type: hour counts total the type mass, shares sum to 1,
    hours stay in [0, 23]."""
    from nlp_data_pipeline_spark.operators.events import e26_hourly_profile

    rows = e26_hourly_profile(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        assert 0 <= r["hour_of_day"] <= 23
        by_type.setdefault(r["event_type"], []).append(r)
    for cells in by_type.values():
        assert cells[0]["type_total"] == sum(c["n_events"] for c in cells)
        assert abs(sum(c["share"] for c in cells) - 1.0) < 1e-9


def test_m14_matches_duckdb_oracle(spark, sf_dir):
    """m14 .npy parse: header arithmetic and the element walk must match
    the closed-form layout."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        M14_SQL,
        m14_npy_header_parse,
    )

    got = [tuple(r) for r in m14_npy_header_parse(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(M14_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_m14_bytes_are_real_npy(spark, sf_dir):
    """Format conformance: numpy itself must np.load the engine-built
    bytes and agree on dtype, shape, and values."""
    import io

    import numpy as np

    from nlp_data_pipeline_spark.operators.multimodal import _m14_build

    rows = _m14_build(spark, sf_dir).filter("doc_id < 10").collect()
    assert rows
    n_chars = dict(
        _duck(sf_dir).execute(
            "SELECT doc_id, n_chars FROM documents WHERE doc_id < 10"
        ).fetchall()
    )
    for r in rows:
        arr = np.load(io.BytesIO(bytes(r["npy"])))
        n = 1 + r["doc_id"] % 5
        assert arr.dtype == np.int64 and arr.shape == (n,)
        assert arr.tolist() == [n_chars[r["doc_id"]] * j for j in range(1, n + 1)]


def test_v22_matches_duckdb_oracle(spark, sf_dir):
    """v22 argmax/conditional aggregate battery: one shared ANSI text on
    both engines."""
    from nlp_data_pipeline_spark.operators.sql_api import (
        V22_SQL,
        v22_aggregate_battery,
    )

    got = [tuple(r) for r in v22_aggregate_battery(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(V22_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_v22_argmax_agrees_with_window_spelling(spark, sf_dir):
    """max_by(event_type, event_id) must equal the rank-1-window
    spelling it replaces (the determinism claim, checked end to
    end)."""
    from nlp_data_pipeline_spark.operators.sql_api import v22_aggregate_battery

    got = {
        r["user_id"]: (r["first_event_type"], r["last_event_type"])
        for r in v22_aggregate_battery(spark, sf_dir).collect()
    }
    want = dict(
        (u, (f, l))
        for u, f, l in _duck(sf_dir, views=("events",)).execute(
            """
            SELECT user_id,
                   arg_min(event_type, event_id),
                   arg_max(event_type, event_id)
            FROM events GROUP BY user_id
            """
        ).fetchall()
    )
    assert got == want


def test_e27_matches_duckdb_oracle(spark, sf_dir):
    """e27 error-burst detector: the burst flag is an integer
    cross-multiplication, boundary-safe."""
    from nlp_data_pipeline_spark.operators.events import (
        E27_SQL,
        e27_error_burst_detector,
    )

    got = [tuple(r) for r in e27_error_burst_detector(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(E27_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_e27_burst_flag_is_exact_threshold(spark, sf_dir):
    """The flag equals the declared integer inequality recomputed
    from the declared counts, and hour masses total the corpus."""
    from nlp_data_pipeline_spark.operators.events import e27_error_burst_detector

    rows = e27_error_burst_detector(spark, sf_dir).collect()
    con = _duck(sf_dir, views=("events",))
    total, errs = con.execute(
        "SELECT COUNT(*), SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END)"
        " FROM events"
    ).fetchone()
    assert sum(r["n_events"] for r in rows) == total
    for r in rows:
        assert r["is_burst"] == (r["n_errors"] * total > 2 * errs * r["n_events"])
        assert r["error_rate"] == r["n_errors"] / r["n_events"]


def test_t57_matches_duckdb_oracle(spark, sf_dir):
    """t57 pattern-flag profile: literal contains() only — no
    cross-engine regex surface."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T57_SQL,
        t57_pattern_flag_profile,
    )

    got = [tuple(r) for r in t57_pattern_flag_profile(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T57_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_t57_any_flag_bounds(spark, sf_dir):
    """n_any is at least the largest single flag and at most the sum
    of all flags (inclusion-exclusion sanity), and frac is the exact
    quotient."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T57_PATTERNS,
        t57_pattern_flag_profile,
    )

    rows = t57_pattern_flag_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        singles = [r[f"n_{name}"] for name, _ in _T57_PATTERNS]
        assert max(singles) <= r["n_any"] <= min(sum(singles), r["n_docs"])
        assert r["frac_flagged"] == r["n_any"] / r["n_docs"]


def test_q60_matches_duckdb_oracle(spark, sf_dir):
    """q60 TWAP: exact cents×µs BIGINT accumulation, one final division."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q60_SQL,
        q60_time_weighted_average,
    )

    got = [tuple(r) for r in q60_time_weighted_average(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(Q60_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_q60_twap_within_value_range(spark, sf_dir):
    """A holding-time average must lie within the user's observed
    value range (excluding the unweighted last event), and spans and
    interval counts reconcile: intervals = events − 1 per user."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q60_time_weighted_average,
    )

    rows = q60_time_weighted_average(spark, sf_dir).collect()
    con = _duck(sf_dir, views=("events",))
    per_user = dict(con.execute(
        "SELECT user_id, COUNT(*) FROM events GROUP BY user_id HAVING COUNT(*) > 1"
    ).fetchall())
    bounds = {
        u: (lo, hi)
        for u, lo, hi in con.execute(
            """
            WITH held AS (
              SELECT user_id, value,
                     LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) nxt
              FROM events
            )
            SELECT user_id, MIN(value), MAX(value) FROM held
            WHERE nxt IS NOT NULL GROUP BY user_id
            """
        ).fetchall()
    }
    assert len(rows) == len(per_user)
    for r in rows:
        assert r["n_intervals"] == per_user[r["user_id"]] - 1
        lo, hi = bounds[r["user_id"]]
        assert lo - 0.01 <= r["twap"] <= hi + 0.01
        # float() first: the engines CAST the >2^53 BIGINT to double
        # before dividing; Python's int/int would divide exactly
        assert r["twap"] == float(r["weighted_cents_us"]) / float(r["span_us"]) / 100.0


def test_u10_matches_duckdb_oracle(spark, sf_dir):
    """u10 applyInArrow: hash equality with plain SQL proves the Arrow
    group boundary delivered every row of every group exactly once."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        U10_SQL,
        u10_apply_in_arrow,
    )

    got = [tuple(r) for r in u10_apply_in_arrow(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(U10_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_t58_matches_duckdb_oracle(spark, sf_dir):
    """t58 dedup-aware token budget: the keeper rule is d01's, restated
    verbatim."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T58_SQL,
        t58_dedup_token_budget,
    )

    got = [tuple(r) for r in t58_dedup_token_budget(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T58_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_t58_reconciles_with_d01(spark, sf_dir):
    """Keeper counts must total d01's cluster count, kept ≤ raw per
    source, and the corpus has real duplication to account for."""
    from nlp_data_pipeline_spark.operators.dedup import d01_exact_dedup
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t58_dedup_token_budget,
    )

    rows = t58_dedup_token_budget(spark, sf_dir).collect()
    n_hashes = d01_exact_dedup(spark, sf_dir).count()
    assert sum(r["n_keepers"] for r in rows) == n_hashes
    for r in rows:
        assert 0 < r["kept_tokens"] <= r["raw_tokens"]
        assert 0.0 <= r["dup_token_frac"] < 1.0


def test_a12_matches_duckdb_oracle(spark, sf_dir):
    """a12 sketch cross-validation: exact and KMV columns hash-exact,
    HLL as the a01-style tolerance boolean."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A12_SQL,
        a12_sketch_crosscheck,
    )

    got = [tuple(r) for r in a12_sketch_crosscheck(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(A12_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_a12_agrees_with_a06(spark, sf_dir):
    """The KMV column must equal a06's declared estimate per source
    (one sketch, two consumers), and HLL's audit holds everywhere."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        a06_kmv_distinct_sketch,
        a12_sketch_crosscheck,
    )

    got = {r["source"]: r for r in a12_sketch_crosscheck(spark, sf_dir).collect()}
    a06 = {r["source"]: r for r in a06_kmv_distinct_sketch(spark, sf_dir).collect()}
    assert set(got) == set(a06)
    for src, r in got.items():
        assert r["kmv_estimate"] == a06[src]["kmv_estimate"]
        assert r["exact_distinct"] == a06[src]["exact_distinct"]
        assert r["hll_within_15pct"] is True


def test_r23_matches_duckdb_oracle(spark, sf_dir):
    """r23 record-separator ingestion: content shas re-identify each
    recovered record byte-exactly."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        R23_SQL,
        r23_linesep_ingest,
    )

    got = [tuple(r) for r in r23_linesep_ingest(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(R23_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_r23_recovers_every_record_once(spark, sf_dir):
    """The 0x1E split yields exactly the staged records, each once."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        _R23_N_DOCS,
        r23_linesep_ingest,
    )

    rows = r23_linesep_ingest(spark, sf_dir).collect()
    ids = [r["doc_id"] for r in rows]
    assert sorted(ids) == sorted(set(ids))
    assert len(rows) == _duck(sf_dir).execute(
        f"SELECT COUNT(*) FROM documents WHERE doc_id < {_R23_N_DOCS}"
    ).fetchone()[0]


def test_d30_matches_duckdb_oracle(spark, sf_dir):
    """d30's merge-path candidates must hash-equal D03's full-build
    pair set — the LSH index mergeability proof."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D30_SQL,
        d30_lsh_index_merge,
    )

    got = [tuple(r) for r in d30_lsh_index_merge(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D30_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_d30_equals_full_build_in_engine(spark, sf_dir):
    """Engine-internal cross-check: the merged two-half index yields
    exactly d03's candidate pairs (no pair gained or lost across the
    shard boundary)."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d03_lsh_candidate_pairs,
        d30_lsh_index_merge,
    )

    merged = {(r["doc_a"], r["doc_b"]) for r in d30_lsh_index_merge(spark, sf_dir).collect()}
    full = {(r["doc_a"], r["doc_b"]) for r in d03_lsh_candidate_pairs(spark, sf_dir).collect()}
    assert merged == full
    # cross-half pairs exist, so the union genuinely crossed shards
    assert any(a % 2 != b % 2 for a, b in merged)


def test_n05_matches_duckdb_oracle(spark, sf_dir):
    """n05: a REAL pyspark.ml IDF fit whose closed-form state faces a
    plain-SQL oracle value-for-value."""
    from nlp_data_pipeline_spark.operators.nlp_model import (
        _n05_sql,
        n05_idf_model,
    )

    got = [tuple(r) for r in n05_idf_model(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(_n05_sql()).fetchall()]
    assert len(got) >= 1 and got == want


def test_n05_idf_tracks_document_frequency(spark, sf_dir):
    """The fitted idf equals ln((m+1)/(df+1)) recomputed from n04's
    declared df per term (model state ≡ declared statistics), so
    rarer terms always score higher."""
    import math

    from nlp_data_pipeline_spark.operators.nlp_model import (
        n04_count_vectorize,
        n05_idf_model,
    )

    dfs = {r["term"]: r["df"] for r in n04_count_vectorize(spark, sf_dir).collect()}
    m = _duck(sf_dir).execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    rows = n05_idf_model(spark, sf_dir).collect()
    assert len(rows) == len(dfs)
    for r in rows:
        expect = round(math.log((m + 1.0) / (dfs[r["term"]] + 1.0)), 6)
        assert abs(r["idf"] - expect) < 2e-6
        assert r["idf"] > 0


def test_d31_matches_duckdb_oracle(spark, sf_dir):
    """d31 shingle-df histogram: power-of-two buckets via
    length(bin(df)) — the t50 integer rule."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D31_SQL,
        d31_shingle_df_histogram,
    )

    got = [tuple(r) for r in d31_shingle_df_histogram(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D31_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_d31_masses_reconcile(spark, sf_dir):
    """Bucket masses total the capped-family's postings relation, df²
    mass dominates df mass, and buckets hold 2^(b-1) ≤ df < 2^b."""
    from nlp_data_pipeline_spark.operators.dedup import d31_shingle_df_histogram

    rows = d31_shingle_df_histogram(spark, sf_dir).collect()
    assert rows
    for r in rows:
        b = r["df_bucket"]
        lo, hi = 2 ** (b - 1), 2 ** b - 1
        assert lo * r["n_shingles"] <= r["n_postings"] <= hi * r["n_shingles"]
        assert r["selfjoin_pairs_mass"] >= r["n_postings"]


def test_e28_matches_duckdb_oracle(spark, sf_dir):
    """e28 inter-arrival histogram: gaps in exact µs, integer buckets,
    zero-gap bucket pinned to 0."""
    from nlp_data_pipeline_spark.operators.events import (
        E28_SQL,
        e28_interarrival_histogram,
    )

    got = [tuple(r) for r in e28_interarrival_histogram(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(E28_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_e28_gap_count_reconciles(spark, sf_dir):
    """Total gaps = events − users (one lag NULL per user), shares sum
    to 1, and bucket bounds hold for every positive bucket."""
    from nlp_data_pipeline_spark.operators.events import e28_interarrival_histogram

    rows = e28_interarrival_histogram(spark, sf_dir).collect()
    con = _duck(sf_dir, views=("events",))
    n_events, n_users = con.execute(
        "SELECT COUNT(*), COUNT(DISTINCT user_id) FROM events"
    ).fetchone()
    assert sum(r["n_gaps"] for r in rows) == n_events - n_users
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        if r["gap_bucket"] > 0:
            lo, hi = 2 ** (r["gap_bucket"] - 1), 2 ** r["gap_bucket"] - 1
            assert lo * r["n_gaps"] <= r["gap_mass_us"] <= hi * r["n_gaps"]


def test_s32_matches_duckdb_oracle(spark, sf_dir):
    """s32 re-rank window curve: one ranked Hamming relation serves
    every window prefix."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S32_SQL,
        s32_rerank_window_curve,
    )

    got = [tuple(r) for r in s32_rerank_window_curve(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S32_SQL).fetchall()
    ]
    assert len(got) == 3 and got == want


def test_s32_nests_and_contains_s29(spark, sf_dir):
    """Recall is non-decreasing in the window (prefix nesting), and
    the K=10 point equals s29's total hits (two consumers of one
    definition)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        s29_binary_recall_eval,
        s32_rerank_window_curve,
    )

    rows = sorted(
        s32_rerank_window_curve(spark, sf_dir).collect(), key=lambda r: r["window_k"]
    )
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)
    s29_hits = sum(r["n_hits"] for r in s29_binary_recall_eval(spark, sf_dir).collect())
    k10 = next(r for r in rows if r["window_k"] == 10)
    assert k10["total_hits"] == s29_hits
    for r in rows:
        assert r["recall"] == r["total_hits"] / r["total_true"]


def test_v23_matches_duckdb_oracle(spark, sf_dir):
    """v23 explicit NULL ordering: green ONLY because both ORDER BYs
    spell out their null placement."""
    from nlp_data_pipeline_spark.operators.sql_api import (
        V23_SQL,
        v23_null_ordering,
    )

    got = [tuple(r) for r in v23_null_ordering(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(V23_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_v23_null_block_placement(spark, sf_dir):
    """Under NULLS FIRST every null row ranks before every non-null
    row; under NULLS LAST, after — and the non-null relative order is
    identical in both rankings."""
    from nlp_data_pipeline_spark.operators.sql_api import v23_null_ordering

    rows = v23_null_ordering(spark, sf_dir).collect()
    n_null = sum(1 for r in rows if r["is_null_key"])
    assert 0 < n_null < len(rows)
    for r in rows:
        if r["is_null_key"]:
            assert r["rn_nulls_first"] <= n_null
            assert r["rn_nulls_last"] > len(rows) - n_null
        else:
            assert r["rn_nulls_last"] == r["rn_nulls_first"] - n_null


def test_t59_matches_duckdb_oracle(spark, sf_dir):
    """t59 shared-header detection."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T59_SQL,
        t59_shared_header_keys,
    )

    got = [tuple(r) for r in t59_shared_header_keys(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T59_SQL).fetchall()]
    assert got == want


def test_t59_finds_planted_template(spark):
    """Crafted corpus: documents sharing an opening template must
    surface as the rank-1 header with the right count."""
    from unittest import mock

    from nlp_data_pipeline_spark.operators import text_analytics as ta

    rows = [
        ("srcX", "common header template alpha body one two three"),
        ("srcX", "common header template beta body four five six"),
        ("srcX", "common header template gamma body seven eight nine"),
        ("srcX", "unique opening words here nothing shared at all"),
    ]
    df = _docs(spark, rows)
    with mock.patch.object(ta, "load_table", lambda *_a, **_k: df):
        got = ta.t59_shared_header_keys(spark, "unused").collect()
    assert len(got) == 1
    r = got[0]
    assert r["rank"] == 1 and r["n_docs"] == 3
    assert r["header"] == "common header template"
    assert r["templated_frac"] == 3 / 4


def test_q61_matches_duckdb_oracle(spark, sf_dir):
    """q61 retention cohorts: week keys declare as TIMESTAMP, offsets as
    integer day-diff DIV 7."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q61_SQL,
        q61_retention_cohorts,
    )

    got = [tuple(r) for r in q61_retention_cohorts(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(Q61_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_q61_triangle_invariants(spark, sf_dir):
    """Week-0 retention is exactly 1 for every cohort, retention never
    exceeds 1, and cohort sizes total the user population."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q61_retention_cohorts,
    )

    rows = q61_retention_cohorts(spark, sf_dir).collect()
    n_users = _duck(sf_dir, views=("events",)).execute(
        "SELECT COUNT(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    cohorts = {}
    for r in rows:
        cohorts[r["cohort_week"]] = r["cohort_size"]
        assert 0 < r["n_active"] <= r["cohort_size"]
        assert r["retention"] == r["n_active"] / r["cohort_size"]
        if r["week_offset"] == 0:
            assert r["n_active"] == r["cohort_size"]
    assert sum(cohorts.values()) == n_users


def test_a13_matches_duckdb_oracle(spark, sf_dir):
    """a13 sampling-error curve: nested md5 samples, exact integer sums,
    single divisions."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A13_SQL,
        a13_sample_error_curve,
    )

    got = [tuple(r) for r in a13_sample_error_curve(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(A13_SQL).fetchall()]
    assert len(got) == 3 and got == want


def test_a13_samples_nest(spark, sf_dir):
    """The K=10 sample token mass is bounded by K=20's which is
    bounded by K=40's (prefix nesting of one ranked relation), every
    mean is the declared quotient, and pop_mean is constant."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        a13_sample_error_curve,
    )

    rows = sorted(
        a13_sample_error_curve(spark, sf_dir).collect(), key=lambda r: r["sample_k"]
    )
    masses = [r["sample_tokens"] for r in rows]
    assert masses == sorted(masses)
    assert len({r["pop_mean"] for r in rows}) == 1
    for r in rows:
        assert r["sample_mean"] == r["sample_tokens"] / r["sample_k"]
        assert r["abs_error"] == abs(r["sample_mean"] - r["pop_mean"])


def test_m15_matches_duckdb_oracle(spark, sf_dir):
    """m15 ZIP shard index: STORED layout is closed-form so the oracle
    recomputes offsets and shas from the raw documents."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        M15_SQL,
        m15_zip_shard_index,
    )

    got = [tuple(r) for r in m15_zip_shard_index(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(M15_SQL).fetchall()]
    assert len(got) >= 1 and got == want


def test_m15_stored_layout_invariants(spark, sf_dir):
    """STORED members tile the archive: each local header sits exactly
    one 30-byte header + name + payload after the previous one."""
    from nlp_data_pipeline_spark.operators.multimodal import (
        _M15_N_DOCS,
        m15_zip_shard_index,
    )

    rows = sorted(
        m15_zip_shard_index(spark, sf_dir).collect(),
        key=lambda r: r["header_offset"],
    )
    assert len(rows) == _M15_N_DOCS
    prev_end = 0
    for r in rows:
        assert r["header_offset"] == prev_end
        prev_end = r["header_offset"] + 30 + len(r["member_name"]) + r["size"]


def test_p09_matches_duckdb_oracle(spark, sf_dir):
    """p09 token waterfall: p08's set arithmetic re-weighted by token
    mass, oracle nests P04_SQL."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        P09_SQL,
        p09_token_waterfall,
    )

    got = [tuple(r) for r in p09_token_waterfall(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(P09_SQL).fetchall()]
    assert len(got) == 4 and got == want


def test_p09_reconciles_with_p04_and_p08(spark, sf_dir):
    """Token masses reconcile with p04's verdict relation directly,
    and the final surviving tokens equal the kept docs' token sum."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        p04_curation_pipeline,
        p09_token_waterfall,
    )

    verdicts = p04_curation_pipeline(spark, sf_dir).collect()
    rows = sorted(p09_token_waterfall(spark, sf_dir).collect(), key=lambda r: r["stage"])
    total = sum(v["n_tokens"] for v in verdicts)
    kept = sum(v["n_tokens"] for v in verdicts if v["keep"])
    surviving = total
    for r in rows:
        dropped = sum(
            v["n_tokens"] for v in verdicts if v["drop_reason"] == r["stage_name"]
        )
        assert r["tokens_dropped"] == dropped
        surviving -= dropped
        assert r["tokens_surviving"] == surviving
    assert rows[-1]["tokens_surviving"] == kept


def test_e29_matches_duckdb_oracle(spark, sf_dir):
    """e29 behavior entropy: one FIXED-ORDER float expression per row,
    never SUM over rows (the t40 rule)."""
    from nlp_data_pipeline_spark.operators.events import (
        E29_SQL,
        e29_behavior_entropy,
    )

    got = [tuple(r) for r in e29_behavior_entropy(spark, sf_dir).collect()]
    want = [
        tuple(r) for r in _duck(sf_dir, views=("events",)).execute(E29_SQL).fetchall()
    ]
    assert len(got) >= 1 and got == want


def test_e29_entropy_bounds(spark, sf_dir):
    """0 ≤ H ≤ ln(5) for a 5-type catalog, and a user with all five
    types in equal measure would sit at the max (checked via bound
    tightness on the corpus's most diverse users)."""
    import math

    from nlp_data_pipeline_spark.operators.events import (
        _E29_TYPES,
        e29_behavior_entropy,
    )

    rows = e29_behavior_entropy(spark, sf_dir).collect()
    h_max = math.log(len(_E29_TYPES))
    assert rows
    for r in rows:
        assert -1e-9 <= r["entropy_nats"] <= h_max + 1e-9
    assert max(r["entropy_nats"] for r in rows) > 0.5 * h_max
