"""Round-6 operators: t22 boilerplate prune, s12 BM25, v07 recursive CTE."""

from datetime import date

import pyspark.sql.functions as F

from nlp_data_pipeline_spark.plans.explain import formatted_plan


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", src, len(t)) for i, (src, t) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_t22_flags_shared_boilerplate_segment(spark, monkeypatch):
    import nlp_data_pipeline_spark.operators.text_analytics as ta

    footer = "common footer navigation links"
    rows = [
        # the footer shingle set recurs in 3 of 4 srcA docs → boilerplate
        ("srcA", f"alpha bravo charlie {footer}"),
        ("srcA", f"delta echo foxtrot {footer}"),
        ("srcA", f"golf hotel india {footer}"),
        ("srcA", "juliet kilo lima mike november oscar"),
        # same footer in a DIFFERENT source with only one doc → not
        # boilerplate there (per-source doc frequency, absolute floor 2)
        ("srcB", f"papa quebec romeo {footer}"),
    ]
    monkeypatch.setattr(ta, "load_table", lambda s, d, n: _docs(spark, rows))
    out = {r.doc_id: r for r in ta.t22_boilerplate_prune(spark, "ignored").collect()}
    # docs 0-2 each contain the recurring footer shingles; doc 3 is clean
    assert out[0].n_boiler > 0 and out[1].n_boiler > 0 and out[2].n_boiler > 0
    assert out[3].n_boiler == 0 and out[3].keep
    assert out[4].n_boiler == 0  # srcB footer below the frequency floor
    for r in out.values():
        assert 0 <= r.n_boiler <= r.n_segments
        assert r.keep == (r.n_boiler / r.n_segments <= 0.5)


def test_t22_joinback_is_broadcast(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.text_analytics import t22_boilerplate_prune

    plan = formatted_plan(t22_boilerplate_prune(spark, sf_dir))
    # the corpus-sized segs relation must join the tiny boilerplate set
    # via broadcast, never a shuffle of the big side
    assert "BroadcastHashJoin" in plan


def test_s12_bm25_ranks_term_dense_docs(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.similarity import (
        BM25_TERMS,
        BM25_TOP_K,
        s12_bm25_topk,
    )

    rows = s12_bm25_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= BM25_TOP_K
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r.bm25 > 0 for r in rows)
    assert all(1 <= r.n_terms_matched <= len(BM25_TERMS) for r in rows)


def test_v07_spine_is_dense_and_anchored(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.sql_api import v07_recursive_month_spine
    from nlp_data_pipeline_spark.sources.catalog import load_table

    rows = v07_recursive_month_spine(spark, sf_dir).collect()
    months = [date.fromisoformat(r.month) for r in rows]
    # dense: every consecutive pair is exactly one month apart
    for a, b in zip(months, months[1:]):
        assert (b.year * 12 + b.month) - (a.year * 12 + a.month) == 1
    # anchored at the data's min/max order month
    bounds = (
        load_table(spark, sf_dir, "orders")
        .agg(
            F.min(F.date_trunc("MONTH", "o_orderdate")).alias("mn"),
            F.max(F.date_trunc("MONTH", "o_orderdate")).alias("mx"),
        )
        .first()
    )
    assert months[0] == bounds.mn.date() and months[-1] == bounds.mx.date()
    # totals preserved through the spine join (zero-months add nothing)
    assert sum(r.n_orders for r in rows) == load_table(spark, sf_dir, "orders").count()


def test_t31_target_docs_lean_positive(spark, sf_dir):
    """Docs FROM the target domain should on average carry higher
    importance weight than the rest (the property DSIR selection
    relies on)."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T31_TARGET,
        t31_dsir_importance,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table

    w = t31_dsir_importance(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = w.join(src, "doc_id").groupBy(
        (F.col("source") == _T31_TARGET).alias("is_target")
    ).agg(F.avg(F.col("dsir_logweight") / F.col("n_toks")).alias("avg_per_tok"))
    rows = {r.is_target: r.avg_per_tok for r in joined.collect()}
    assert rows[True] > rows[False]


def test_r11_gzip_stage_is_actually_gzip(spark, sf_dir, tmp_path):
    import glob
    import gzip
    import os

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        r11_gzip_jsonl_roundtrip,
    )

    out = r11_gzip_jsonl_roundtrip(spark, sf_dir)
    assert out.count() > 0
    from nlp_data_pipeline_spark.scratch import scratch_path

    stage = scratch_path(f"gzjsonl_{os.getpid()}")
    files = glob.glob(os.path.join(stage, "part-*.json.gz"))
    assert files, "stage must be .gz-suffixed shards"
    with gzip.open(files[0], "rt") as fh:  # decodes only if really gzip
        assert '"doc_id"' in fh.readline()


def test_e15_scan_is_dynamically_pruned(spark, sf_dir):
    """The fact scan must carry a dynamicpruning expression on the
    partition column — dim-side predicates prune fact partitions at
    RUNTIME, the property that keeps partitioned scans bounded at
    100 TB."""
    from nlp_data_pipeline_spark.operators.events import (
        e15_dynamic_partition_pruning,
    )

    plan = formatted_plan(e15_dynamic_partition_pruning(spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_q38_single_scan_all_rules(spark, sf_dir):
    """The expectations audit must evaluate ALL rules in one pass —
    exactly one parquet scan and one aggregate in the plan."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        _Q38_RULES,
        q38_data_expectations,
    )

    import re

    df = q38_data_expectations(spark, sf_dir)
    plan = formatted_plan(df)
    # one scan NODE (formatted output prints each node twice: once in
    # the tree, once as a "(N) Scan parquet" detail header)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    rows = {r.rule: r for r in df.collect()}
    assert len(rows) == len(_Q38_RULES)
    for name, _pred, tol in _Q38_RULES:
        if tol == 0.0:
            assert rows[name].n_violations == 0 and rows[name]["pass"]


def test_q39_zorder_bounds_both_dimensions(spark, sf_dir):
    """Z-order buckets must bound BOTH key ranges; the 1-D sort layout
    bounds only its sort key — the property that makes min/max file
    skipping work for predicates on either column."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q39_zorder_clustering,
    )

    rows = q39_zorder_clustering(spark, sf_dir).collect()
    spans = {}
    for layout in ("zorder", "linear_x"):
        xs = [r.x_span_frac for r in rows if r.layout == layout]
        ys = [r.y_span_frac for r in rows if r.layout == layout]
        spans[layout] = (sum(xs) / len(xs), sum(ys) / len(ys))
    # linear layout: x tightly bounded, y unbounded (~full range)
    assert spans["linear_x"][0] < 0.2 and spans["linear_x"][1] > 0.8
    # z-order: BOTH dimensions substantially bounded
    assert spans["zorder"][0] < 0.5 and spans["zorder"][1] < 0.5
    # and z-order's y bound beats linear's by a wide margin
    assert spans["zorder"][1] < spans["linear_x"][1] / 2


def test_q41_bloom_filter_injected(spark, sf_dir):
    """Under the q41 conf block the optimizer injects a runtime Bloom
    filter: the fact-side scan filter carries might_contain(...), so
    non-matching rows die BEFORE the shuffle (SPARK-32268)."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        _Q41_CONFS,
        _q41_join,
        _scoped_confs,
    )

    with _scoped_confs(spark, _Q41_CONFS):
        j = _q41_join(spark, sf_dir)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
        # and it's semantically invisible: result matches the unfiltered run
        with_bloom = {tuple(r) for r in j.collect()}
    without = {tuple(r) for r in _q41_join(spark, sf_dir).collect()}
    assert with_bloom == without


def test_q40_merge_equals_direct_recompute(spark, sf_dir):
    """The partial-merge refresh must be value-identical to recomputing
    the rollup from all of history (the MV-maintenance contract)."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        q40_incremental_mv_maintenance,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table

    merged = {(r.month, r.status): (r.n_orders, r.total_price)
              for r in q40_incremental_mv_maintenance(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    direct = {
        (r.month, r.status): (r.n_orders, r.total_price)
        for r in o.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .collect()
    }
    assert merged == direct


def test_a02_sketch_algebra_holds(spark, sf_dir):
    """Union-of-daily-sketches must estimate exactly what the direct
    whole-corpus sketch estimates (same-lgK Datasketches union), and
    every estimate must sit within tolerance of exact."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import a02_hll_sketch_rollup

    rows = a02_hll_sketch_rollup(spark, sf_dir).collect()
    assert rows[-1].day_label == "TOTAL"
    assert all(r.hll_within_5pct for r in rows)
    assert all(r.rollup_matches_direct for r in rows)
    # TOTAL covers the union of all days: at least the max daily count
    daily_max = max(r.exact_users for r in rows[:-1])
    assert rows[-1].exact_users >= daily_max


def test_t32_chunks_tile_documents(spark, sf_dir):
    """Chunk windows must tile every document: starts advance by the
    stride, consecutive chunks overlap by chunk-stride tokens, and the
    final chunk reaches the last token."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T32_CHUNK,
        _T32_STRIDE,
        t32_rag_chunking,
    )

    rows = t32_rag_chunking(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) > 0
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_idx)
        n = rs[0].n_tokens
        # starts are exactly 0, stride, 2*stride, ... while start < max(n,1)
        assert [r.chunk_start for r in rs] == list(
            range(0, max(n, 1), _T32_STRIDE)
        )
        for r in rs:
            assert r.n_chunk_tokens == min(_T32_CHUNK, n - r.chunk_start)
        # full coverage: last chunk reaches the final token
        last = rs[-1]
        assert last.chunk_start + last.n_chunk_tokens == n


def test_t33_matches_duckdb_oracle(spark, sf_dir):
    """t33: the driver-style DuckDB oracle comparison."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.text_analytics import (
        T33_SQL,
        t33_readability_curriculum,
    )

    got = [tuple(r) for r in t33_readability_curriculum(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(T33_SQL).fetchall()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:4] == tuple(w[:4])  # doc_id + integer counts exact
        assert math.isclose(g[4], w[4], abs_tol=1e-9)  # rounded flesch
        assert g[5] == w[5]  # difficulty band


def test_dedup_within_watermark_semantics(spark):
    """Staged e18 surface: dropDuplicatesWithinWatermark keyed on
    (user_id, event_type) keeps exactly one row per key for duplicates
    arriving inside the watermark delay, and the kept row is one of the
    key's inputs (Spark keeps the first encountered — partition-order
    dependent, so the test asserts membership, not identity)."""
    import os
    import tempfile
    from datetime import datetime, timedelta

    from nlp_data_pipeline_spark.streaming.pipelines import (
        dedup_within_watermark,
        read_events_stream,
        run_to_memory_sink,
    )

    base = tempfile.mkdtemp(prefix="ddww_test_")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for user in (1, 2):
        for etype in ("click", "view"):
            for k in range(3):  # 3 duplicates per key, 1 min apart
                rows.append((eid, t0 + timedelta(minutes=k), user, etype, 1.0, "{}"))
                eid += 1
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        os.path.join(base, "events")
    )
    stream = read_events_stream(spark, os.path.join(base, "events"))
    _, result = run_to_memory_sink(
        dedup_within_watermark(stream, "10 minutes"), output_mode="append"
    )
    out = result.collect()
    keys = [(r.user_id, r.event_type) for r in out]
    assert sorted(keys) == sorted({(u, e) for u in (1, 2) for e in ("click", "view")})
    in_rows = {(r[2], r[3], r[0]) for r in rows}
    assert all((r.user_id, r.event_type, r.event_id) in in_rows for r in out)


def test_s13_matches_duckdb_oracle(spark, sf_dir):
    """s13 radius search: the driver-style DuckDB oracle comparison."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.similarity import (
        S13_SQL,
        s13_radius_search,
    )

    got = [tuple(r) for r in s13_radius_search(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = con.execute(S13_SQL).fetchall()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g[0], g[1], g[3]) == (w[0], w[1], w[3])  # ids + radius count
        assert math.isclose(g[2], w[2], abs_tol=1e-9)  # rounded cosine


def test_v08_matches_duckdb_oracle(spark, sf_dir):
    """v08 SQL-language UDF: the oracle inlines the function bodies —
    exactly what Spark's analyzer does — so a match proves the UDF
    mechanism is semantically transparent."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.sql_api import V08_SQL, v08_sql_scalar_udf
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    df = v08_sql_scalar_udf(spark, sf_dir)
    # the SQL UDF must be inlined: no Python stage in the plan
    assert "BatchEvalPython" not in formatted_plan(df)
    got = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
    )
    want = con.execute(V08_SQL).fetchall()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == tuple(w[:3])
        assert math.isclose(g[3], w[3], abs_tol=1e-6)


def test_v09_matches_duckdb_oracle(spark, sf_dir):
    """v09 SQL TABLE function: the oracle is the equivalent partitioned
    window top-k, so a match proves the LATERAL-correlated table
    function inlines to exactly that semantics."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.sql_api import (
        V09_SQL,
        v09_sql_table_function,
    )
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    df = v09_sql_table_function(spark, sf_dir)
    assert "BatchEvalPython" not in formatted_plan(df)  # no Python UDTF
    got = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    want = con.execute(V09_SQL).fetchall()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == tuple(w[:3])
        assert math.isclose(g[3], w[3], abs_tol=1e-9)


def test_t34_matches_duckdb_oracle(spark, sf_dir):
    """t34 BPE merge-pair counting: the driver-style DuckDB oracle
    comparison."""
    import duckdb

    from nlp_data_pipeline_spark.operators.text_analytics import (
        T34_SQL,
        t34_bpe_merge_pairs,
    )

    got = [tuple(r) for r in t34_bpe_merge_pairs(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(T34_SQL).fetchall()]
    assert len(got) == len(want) == 20
    assert got == want
    # merge candidates are single-char pairs separated by one space
    for pair, n in got:
        assert len(pair) == 3 and pair[1] == " " and n > 0


def test_t35_matches_duckdb_oracle(spark, sf_dir):
    """t35 deterministic shuffle-shard: oracle proves the arithmetic
    shard hash and the per-shard md5 ordering are engine-portable."""
    import duckdb

    from nlp_data_pipeline_spark.operators.text_analytics import (
        _T35_SHARDS,
        T35_SQL,
        t35_shuffle_shards,
    )
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    df = t35_shuffle_shards(spark, sf_dir)
    # scale guard: the window must be partitioned (no global
    # single-partition sort-everything window)
    plan = formatted_plan(df)
    assert "partitionBy=[]" not in plan.replace(" ", "")
    got = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(T35_SQL).fetchall()]
    assert len(got) == len(want) > 0
    assert got == want
    # every shard is populated and positions are dense from 1
    by_shard = {}
    for _, shard, _, pos in got:
        by_shard.setdefault(shard, []).append(pos)
    assert set(by_shard) == set(range(_T35_SHARDS))
    for positions in by_shard.values():
        assert positions == list(range(1, len(positions) + 1))


def test_v10_matches_duckdb_oracle(spark, sf_dir):
    """v10 SQL pipe syntax: the oracle is the classic-SQL spelling, so a
    match proves the pipe chain parses to the same semantics."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.sql_api import V10_SQL, v10_pipe_syntax

    got = [tuple(r) for r in v10_pipe_syntax(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(V10_SQL).fetchall()]
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:4] == tuple(w[:4])
        assert math.isclose(g[4], w[4], abs_tol=1e-9)


def test_r12_matches_duckdb_oracle(spark, sf_dir):
    """r12 XML round trip: the oracle aggregates the parquet source, so
    a hash-equal result proves the XML write→parse path lossless."""
    import duckdb

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        R12_SQL,
        r12_xml_roundtrip,
    )

    got = [tuple(r) for r in r12_xml_roundtrip(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(R12_SQL).fetchall()]
    assert len(got) == len(want) > 0
    assert got == want


def test_q42_matches_duckdb_oracle(spark, sf_dir):
    """q42 collated grouping: the oracle groups on lower(key), so a
    match proves UTF8_LCASE grouping merges case variants exactly."""
    import duckdb

    from nlp_data_pipeline_spark.operators.relational_ext import (
        Q42_SQL,
        q42_collated_group,
    )

    got = [tuple(r) for r in q42_collated_group(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(Q42_SQL).fetchall()]
    assert len(got) == len(want) > 0
    assert got == want


def test_report_renders_deterministic_html(spark, sf_dir):
    """Presentation layer (reference nlp_data_tagging.py:288-566): the
    offline report renders the declared feeds into self-contained HTML
    deterministically — same input, byte-identical output."""
    from nlp_data_pipeline_spark.report import render_report

    h1 = render_report(spark, sf_dir)
    h2 = render_report(spark, sf_dir)
    assert h1 == h2  # deterministic: no RNG in layout
    # the three chart sections + the hero tiles are all present
    for marker in (
        "Top tokens (corpus)",
        "Top tags (documents tagged)",
        "Summary word cloud",
        'class="tiles"',
    ):
        assert marker in h1
    # every chart ships its data table fallback
    assert h1.count("data table") == 3
    # single-file artifact: no external resources
    assert "http://" not in h1 and "https://" not in h1
    # all SVG numbers are finite (no NaN leaked into geometry)
    assert "NaN" not in h1


def test_report_chart_builders_handle_empty():
    from nlp_data_pipeline_spark.report import bar_svg, wordcloud_svg

    assert "(no data)" in bar_svg([], "empty")
    assert "(no data)" in wordcloud_svg([], "empty")
    # XML-escapes labels
    out = bar_svg([("<b>&", 3.0)], "t")
    assert "<b>&" not in out and "&lt;b&gt;&amp;" in out


def test_e19_matches_duckdb_oracle(spark, sf_dir):
    """e19 state-store read: the result is reconstructed purely from the
    checkpoint's state files (noop sink — nothing flows out the normal
    path), so a match against the batch oracle proves the State Data
    Source exposes exactly the aggregation state."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.events import E19_SQL, e19_statestore_read

    got = [tuple(r) for r in e19_statestore_read(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = [tuple(r) for r in con.execute(E19_SQL).fetchall()]
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:2] == tuple(w[:2])
        assert math.isclose(g[2], w[2], abs_tol=1e-6)


def test_m08_matches_duckdb_oracle(spark, sf_dir):
    """m08 perceptual-hash image dedup: the closed-form oracle pins the
    one planted near-dup pair — and that far pairs never become
    candidates (banded LSH, no all-pairs)."""
    import duckdb

    from nlp_data_pipeline_spark.operators.multimodal import (
        M08_SQL,
        m08_image_dedup_phash,
    )

    got = [tuple(r) for r in m08_image_dedup_phash(spark, sf_dir).collect()]
    want = [tuple(r) for r in duckdb.connect().execute(M08_SQL).fetchall()]
    assert got == want == [("grad_a.png", "grad_a_noisy.png", 5, True)]


def test_m08_ahash_properties():
    """aHash invariants: 64-bit range, identical images hash equal,
    constant images hash to all-zero bits (strict > mean)."""
    import numpy as np

    from nlp_data_pipeline_spark.operators.multimodal import ahash64, hash_bands

    const = np.full((16, 16, 3), 77, dtype=np.uint8)
    assert ahash64(const) == 0
    grad = np.tile(np.arange(32, dtype=np.uint8)[None, :, None] * 8, (32, 1, 3))
    h = ahash64(grad)
    assert 0 <= h < (1 << 64)
    assert ahash64(grad) == h  # deterministic
    assert len(hash_bands(h)) == 4 and all(0 <= b <= 0xFFFF for b in hash_bands(h))


def test_d13_matches_duckdb_oracle(spark, sf_dir):
    """d13 cross-source contamination matrix: the driver-style DuckDB
    oracle comparison."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.dedup import (
        D13_SQL,
        d13_source_overlap_matrix,
    )

    got = [tuple(r) for r in d13_source_overlap_matrix(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(D13_SQL).fetchall()]
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == tuple(w[:3])
        assert math.isclose(g[3], w[3], abs_tol=1e-9)
        assert 0.0 <= g[3] <= 1.0
    # symmetric-matrix shape: each unordered source pair appears once
    pairs = [(g[0], g[1]) for g in got]
    assert len(set(pairs)) == len(pairs)
    assert all(a < b for a, b in pairs)


def test_s14_matches_duckdb_oracle(spark, sf_dir):
    """s14 int8 scalar-quantized search: the driver-style DuckDB oracle
    comparison."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.similarity import (
        S14_SQL,
        s14_int8_quantized_search,
    )

    got = [tuple(r) for r in s14_int8_quantized_search(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = [tuple(r) for r in con.execute(S14_SQL).fetchall()]
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == tuple(w[:3])
        assert math.isclose(g[3], w[3], abs_tol=1e-9)
        assert math.isclose(g[4], w[4], abs_tol=1e-9)
        # int8 quantization noise must stay small: approx within 0.05
        # of the exact cosine on every winner
        assert abs(g[3] - g[4]) < 0.05


def test_e18_matches_duckdb_oracle(spark, sf_dir):
    """e18 dropDuplicatesWithinWatermark declares per-key emit counts
    (all exactly 1 under duplicate delivery — the dedup-sensitive
    signal from ADVICE r06), oracle-checked against the batch DISTINCT
    key set with n_emitted = 1."""
    import duckdb

    from nlp_data_pipeline_spark.operators.events import (
        E18_SQL,
        e18_dedup_within_watermark,
    )

    got = [tuple(r) for r in e18_dedup_within_watermark(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = [tuple(r) for r in con.execute(E18_SQL).fetchall()]
    assert got == want and len(got) > 0


def test_t36_matches_duckdb_oracle(spark, sf_dir):
    """t36 corpus-wide sentence dedup: the driver-style DuckDB oracle
    comparison."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.text_analytics import (
        T36_SQL,
        t36_sentence_dedup,
    )

    got = [tuple(r) for r in t36_sentence_dedup(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(T36_SQL).fetchall()]
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == tuple(w[:3])
        assert math.isclose(g[3], w[3], abs_tol=1e-9)
        assert 0 <= g[2] <= g[1]
    # the driver corpus has no verbatim repeated sentences (checked),
    # so n_dup_removed is honestly zero here; the dedup semantics are
    # pinned on a planted-duplicate corpus in the test below


def test_t36_removes_cross_doc_repeats(spark, monkeypatch):
    """Planted duplicates: the same sentence in three docs keeps only
    its first (doc_id, pos) occurrence; within-doc repeats count too."""
    import nlp_data_pipeline_spark.operators.text_analytics as ta

    boiler = "subscribe to our newsletter today"
    rows = [
        ("srcA", f"alpha bravo charlie delta. {boiler}."),
        ("srcA", f"{boiler}. echo foxtrot golf hotel."),
        ("srcB", f"india juliet kilo lima. {boiler}. {boiler}."),
        ("srcB", "mike november oscar papa."),
    ]
    monkeypatch.setattr(ta, "load_table", lambda s, d, n: _docs(spark, rows))
    out = {r.doc_id: r for r in ta.t36_sentence_dedup(spark, "ignored").collect()}
    assert out[0].n_dup_removed == 0          # first occurrence kept
    assert out[1].n_dup_removed == 1          # cross-doc repeat removed
    assert out[2].n_dup_removed == 2          # cross-doc + within-doc
    assert out[3].n_dup_removed == 0
    assert out[2].n_sentences == 3 and 0 < out[2].dup_ratio < 1


def test_staged_plan_shapes(spark, sf_dir):
    """Plan pins for the staged ops' scale-critical properties: s14's
    quantization-stats relation is broadcast and no Python stage exists
    in s14/t34/t36 (pure column expressions end to end)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        s14_int8_quantized_search,
    )
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t34_bpe_merge_pairs,
        t36_sentence_dedup,
    )

    p = formatted_plan(s14_int8_quantized_search(spark, sf_dir))
    assert "BroadcastExchange" in p
    for df_plan in (
        p,
        formatted_plan(t34_bpe_merge_pairs(spark, sf_dir)),
        formatted_plan(t36_sentence_dedup(spark, sf_dir)),
    ):
        assert "BatchEvalPython" not in df_plan and "ArrowEvalPython" not in df_plan


def test_r13_matches_duckdb_oracle(spark, sf_dir):
    """r13 training-shard materialization: the manifest is computed from
    the LANDED partitioned files while the oracle recomputes it from the
    source through p04's keep rule — a match proves the full
    materialization lossless."""
    import duckdb

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        R13_SQL,
        r13_training_shards_sink,
    )

    got = [tuple(r) for r in r13_training_shards_sink(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(R13_SQL).fetchall()]
    assert len(got) == len(want) > 0
    assert got == want
    # every shard materialized and non-empty
    assert [g[0] for g in got] == sorted(g[0] for g in got)
    assert all(g[1] > 0 for g in got)


def test_r14_matches_duckdb_oracle(spark, sf_dir):
    """r14 metadata-column lineage: the order-robust aggregates
    (per-file row_index = 0..n_f-1) are closed-form from the
    deterministic doc_id%4 file split."""
    import duckdb

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        R14_SQL,
        r14_file_lineage,
    )

    got = [tuple(r) for r in r14_file_lineage(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(R14_SQL).fetchall()]
    assert got == want and len(got) == 1
    n_files, n_rows, starting0, max_ri, _sum_ri = got[0]
    assert n_files == 4 == starting0 and max_ri < n_rows


def _bpe_reference(word_freqs, n_merges):
    """Pure-Python BPE trainer mirroring bpe_train's conventions:
    argmax pair count with lexicographic-ascending tie-break, greedy
    leftmost-first non-overlapping merge."""
    words = [([c for c in w], f) for w, f in word_freqs if len(w) >= 2]
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, f in words:
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                counts[k] = counts.get(k, 0) + f
        if not counts:
            break
        maxc = max(counts.values())
        a, b = min(k for k, v in counts.items() if v == maxc)
        merges.append((a, b, maxc))
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
        words = nxt
    return merges


def test_bpe_train_overlap_semantics(spark, monkeypatch):
    """Greedy-left non-overlap: 'aaaa' with pair (a,a) merges to
    [aa, aa], never [aa, a, a] chained into [aaa, a]."""
    import nlp_data_pipeline_spark.operators.text_analytics as ta

    rows = [("src", "aaaa aaaa bc bc bc")]
    monkeypatch.setattr(ta, "load_table", lambda s, d, n: _docs(spark, rows))
    merges = ta.bpe_train(spark, "ignored", n_merges=3)
    # round 1: (a,a) appears 3x per 'aaaa' (positions 1-2,2-3,3-4 of the
    # pair scan) x2 words = 6 > (b,c)'s 3 → merged first
    assert merges[0][:2] == ("a", "a")
    # round 2: each 'aaaa' is now [aa, aa] → pair (aa,aa) count 2;
    # (b,c) count 3 wins
    assert merges[1][:2] == ("b", "c")
    assert merges[2][:2] == ("aa", "aa")


def test_bpe_train_matches_python_reference(spark, sf_dir):
    """The distributed trainer reproduces the pure-Python reference
    merge-for-merge on the real corpus."""
    import duckdb

    from nlp_data_pipeline_spark.operators.text_analytics import (
        _CLEAN_SQL,
        bpe_train,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    wf = con.execute(
        f"""SELECT word, COUNT(*) FROM (
              SELECT unnest(string_split({_CLEAN_SQL}, ' ')) AS word FROM documents
            ) WHERE length(word) >= 2 GROUP BY word"""
    ).fetchall()
    want = _bpe_reference(wf, 8)
    got = bpe_train(spark, sf_dir, n_merges=8)
    assert got == want
    # merges chain: later merges may use earlier merged symbols
    assert len(got) == 8 and all(c > 0 for _, _, c in got)


def test_v11_matches_duckdb_oracle(spark, sf_dir):
    """v11 parameterized SQL + IDENTIFIER: the oracle inlines the bound
    literals — exactly what parameter binding resolves to."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.sql_api import (
        V11_SQL,
        v11_parameterized_sql,
    )

    got = [tuple(r) for r in v11_parameterized_sql(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    want = [tuple(r) for r in con.execute(V11_SQL).fetchall()]
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:2] == tuple(w[:2])
        assert math.isclose(g[2], w[2], abs_tol=1e-6)


def test_a03_matches_duckdb_oracle(spark, sf_dir):
    """a03 HLL intersection via inclusion-exclusion: exact overlaps
    hash-match and the sketch estimate stays within 10% of the union on
    every pair."""
    import duckdb

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        A03_SQL,
        a03_hll_intersection,
    )

    got = [tuple(r) for r in a03_hll_intersection(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = [tuple(r) for r in con.execute(A03_SQL).fetchall()]
    assert got == want and len(got) > 0
    for _, _, ea, eb, ei, within in got:
        assert within is True
        assert ei <= min(ea, eb)


def test_bpe_encode_matches_reference(spark, sf_dir):
    """bpe_encode_counts reproduces the Python reference tokenization
    (same merges, same greedy-left application) doc-for-doc."""
    import duckdb

    from nlp_data_pipeline_spark.operators.text_analytics import (
        _CLEAN_SQL,
        bpe_encode_counts,
        bpe_train,
    )

    merges = bpe_train(spark, sf_dir, n_merges=6)
    got = {r.doc_id: r for r in bpe_encode_counts(spark, sf_dir, merges).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    docs = con.execute(f"SELECT doc_id, {_CLEAN_SQL} FROM documents").fetchall()

    def encode(word):
        syms = list(word)
        for a, b, _ in merges:
            out, fused = [], False
            for x in syms:
                if out and not fused and out[-1] == a and x == b:
                    out[-1] = a + b
                    fused = True
                else:
                    out.append(x)
                    fused = False
            syms = out
        return syms

    assert len(got) == len(docs) > 0
    for doc_id, ctext in docs:
        words = [w for w in ctext.split(" ") if len(w) >= 2]
        nt = sum(len(encode(w)) for w in words)
        nc = sum(len(w) for w in words)
        g = got[doc_id]
        assert (g.n_chars_in_words, g.n_bpe_tokens) == (nc, nt), doc_id
        assert g.n_bpe_tokens <= g.n_chars_in_words  # merges only shrink


def test_t37_matches_duckdb_oracle(spark, sf_dir):
    """t37 OOV-rate: the driver-style DuckDB oracle comparison."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.text_analytics import (
        T37_SQL,
        t37_oov_rate,
    )

    got = [tuple(r) for r in t37_oov_rate(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(T37_SQL).fetchall()]
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == tuple(w[:3])
        assert math.isclose(g[3], w[3], abs_tol=1e-9)
        assert 0.0 <= g[3] <= 1.0


def test_p05_matches_duckdb_oracle(spark, sf_dir):
    """p05 snapshot diff: the driver-style DuckDB oracle comparison."""
    import duckdb

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        P05_SQL,
        p05_snapshot_diff,
    )

    got = [tuple(r) for r in p05_snapshot_diff(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(P05_SQL).fetchall()]
    assert got == want and len(got) > 0
    # every class is exercised by the synthetic next-crawl rules
    tot = [sum(c) for c in zip(*[g[1:] for g in got])]
    assert all(t > 0 for t in tot), tot


def test_e20_matches_duckdb_oracle(spark, sf_dir):
    """e20 streaming quantile monitoring: the oracle-exact batch
    percentiles carry the hash while booleans pin the streaming sketch
    within 5%."""
    import math

    import duckdb

    from nlp_data_pipeline_spark.operators.events import (
        E20_SQL,
        e20_streaming_quantiles,
    )

    got = [tuple(r) for r in e20_streaming_quantiles(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = [tuple(r) for r in con.execute(E20_SQL).fetchall()]
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:2] == tuple(w[:2])
        assert math.isclose(g[2], w[2], abs_tol=1e-9)
        assert math.isclose(g[3], w[3], abs_tol=1e-9)
        assert g[4] is True and g[5] is True


def test_v12_matches_duckdb_oracle(spark, sf_dir):
    """v12 GROUP BY ALL / ORDER BY ALL: the oracle is the explicit
    spelling the syntax resolves to."""
    import duckdb

    from nlp_data_pipeline_spark.operators.sql_api import V12_SQL, v12_group_by_all

    got = [tuple(r) for r in v12_group_by_all(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(V12_SQL).fetchall()]
    assert got == want and len(got) > 0


def test_d14_matches_duckdb_oracle(spark, sf_dir):
    """d14 dedup yield histogram: the oracle reuses d06's recursive
    closure, rolled up to the cluster-size distribution."""
    import duckdb

    from nlp_data_pipeline_spark.operators.dedup import (
        D14_SQL,
        d14_cluster_size_histogram,
    )

    got = [tuple(r) for r in d14_cluster_size_histogram(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(D14_SQL).fetchall()]
    assert got == want and len(got) > 0
    for size, n, removable in got:
        assert size >= 2 and removable == n * (size - 1)
