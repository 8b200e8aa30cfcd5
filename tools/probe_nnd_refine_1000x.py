"""Scale probe for the NND packed local-join REFINE tier (round 14,
VERDICT r13 #4): the r13 probe executed the seed tier at 1000x but
EXCLUDED any refine round there — pair-join candidate scoring ships
n·deg_eff² pairs × ~1 KB of paired embeddings through Arrow (~295 GB
at 2M vectors on one box) and its neighbors-of-neighbors self-join is
Σdeg² pairs, quadratic on duplication-hub in-degrees. The packed tier
(_nnd_refine_local_join) removes both: embeddings ship with the ADJACENCY
(deg+1 copies, JVM shuffle), blocks score as one gram matmul, each
pair emits 24 B, and the _NND_PACK_CAP degree cap bounds hub blocks.

What this probe proves:
  - PARITY: at 1x and 100x the packed full build (rounds=1) produces
    the same NSW graph as the pair-join full build — exact edge-set
    equality at 1x, edge-recall at 100x (join-counted, not collected).
  - EXECUTION: the FULL build (seed + 1 packed refine round) runs at
    1000x (2M vectors, neardup-adversarial), where the pair-join tier
    is excluded by measurement.
  - NO SILENT CAPS: reports how many closed neighborhoods exceeded
    _NND_PACK_CAP at each scale (the blocks whose candidate coverage
    the cap trims).

Usage:  python tools/probe_nnd_refine_1000x.py [out.json]
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
        SPARK_GRAFT_SCALE_FACTOR (default 1000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ.setdefault("SPARK_GRAFT_STAGE_MODE", "neardup")

from bench_10x import _stage  # noqa: E402
from nlp_data_pipeline_spark.plans.explain import plan_fingerprint  # noqa: E402
from probe_io import emit_artifact  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    from nlp_data_pipeline_spark.operators import similarity
    from nlp_data_pipeline_spark.operators.similarity import (
        _NND_PACK_CAP,
        _knn_graph_nnd,
    )
    from nlp_data_pipeline_spark.session import get_spark
    from nlp_data_pipeline_spark.sources.catalog import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "1000"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(here, "probe_nnd_refine_1000x.json")
    )
    spark = get_spark("probe-nnd-refine-1000x")

    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    mid = _stage(spark, sf_dir, max(2, factor // 10))
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(
        f"[nnd-refine] staged 1x+{factor//10}x+{factor}x in {time.time()-t0:.1f}s\n"
    )

    def run(tag: str, d: str, packed: bool):
        n_vecs = load_table(spark, d, "embeddings").count()
        t0 = time.time()
        # the refine tier follows corpus size: move the threshold to
        # either side of this corpus while the plan is built
        threshold = similarity._NND_REFINE_PACKED_N
        similarity._NND_REFINE_PACKED_N = n_vecs - 1 if packed else n_vecs
        try:
            g = _knn_graph_nnd(spark, d, rounds=1)
        finally:
            similarity._NND_REFINE_PACKED_N = threshold
        n_edges = g.count()
        sec = round(time.time() - t0, 1)
        fp = plan_fingerprint(g)
        row = {
            "n_vecs": n_vecs,
            "refine_tier": "packed" if packed else "pair-join",
            "sec": sec,
            "edges": n_edges,
            "edges_per_vec": round(n_edges / n_vecs, 2),
            "struct_md5": fp["struct_md5"],
            "n_exchanges": fp["n_exchanges"],
        }
        sys.stderr.write(f"[nnd-refine] {tag}: {json.dumps(row)}\n")
        return row, g

    def capped_blocks(d: str) -> int:
        """Closed neighborhoods of the REFINE INPUT (the rounds=0 NSW
        graph == undirected(seed ∪ links)) larger than the cap."""
        g0 = _knn_graph_nnd(spark, d, rounds=0)
        return (
            g0.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") + 1 > _NND_PACK_CAP)
            .count()
        )

    def recall(g_ref, g_got) -> dict:
        ref = g_ref.select("src", "dst")
        got = g_got.select("src", "dst")
        n_ref, n_got = ref.count(), got.count()
        n_common = ref.join(got, ["src", "dst"], "semi").count()
        return {
            "edges_ref_pairjoin": n_ref,
            "edges_packed": n_got,
            "edges_common": n_common,
            "edge_recall_vs_pairjoin": round(n_common / max(n_ref, 1), 6),
        }

    import gc

    def _release():
        """Drop phase references so ContextCleaner can unpersist the
        localCheckpoint blocks before the next heavy phase — the first
        r14 attempt carried ~the whole 1000x build's blocks into the
        next phase's heap."""
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # 1000x FIRST (fresh session — the r13 heartbeat lesson)
    big_row, _ = run(f"{factor}x_packed_full", staged, packed=True)
    _release()
    big_capped = capped_blocks(staged)
    _release()

    mid_pair_row, g_mid_pair = run(f"{factor//10}x_pairjoin_full", mid, packed=False)
    mid_pack_row, g_mid_pack = run(f"{factor//10}x_packed_full", mid, packed=True)
    mid_parity = recall(g_mid_pair, g_mid_pack)
    del g_mid_pair, g_mid_pack
    mid_capped = capped_blocks(mid)
    _release()

    base_pair_row, g_base_pair = run("1x_pairjoin_full", base, packed=False)
    base_pack_row, g_base_pack = run("1x_packed_full", base, packed=True)
    base_parity = recall(g_base_pair, g_base_pack)
    base_exact = (
        base_parity["edges_ref_pairjoin"]
        == base_parity["edges_packed"]
        == base_parity["edges_common"]
    )
    base_capped = capped_blocks(base)

    results = {
        "1x_pairjoin_full": base_pair_row,
        "1x_packed_full": base_pack_row,
        "1x_parity": {**base_parity, "exact_edge_set_equality": base_exact},
        "1x_capped_blocks": base_capped,
        f"{factor//10}x_pairjoin_full": mid_pair_row,
        f"{factor//10}x_packed_full": mid_pack_row,
        f"{factor//10}x_parity": mid_parity,
        f"{factor//10}x_capped_blocks": mid_capped,
        f"{factor}x_packed_full": big_row,
        f"{factor}x_capped_blocks": big_capped,
        "plan_stable_packed": (
            base_pack_row["struct_md5"] == big_row["struct_md5"]
        ),
    }
    payload = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": os.environ["SPARK_GRAFT_STAGE_MODE"],
        "pack_cap": _NND_PACK_CAP,
        "excluded": {
            f"pair-join refine at {factor}x": "ships ~n·deg_eff² pairs "
            "× ~1 KB of paired embeddings through Arrow (~295 GB at 2M "
            "vectors) and its neighbors-of-neighbors self-join is Σdeg² "
            "on hub in-degrees — the r13-measured exclusion the packed "
            "tier replaces; executes at 100x as the parity reference",
        },
        "plan_note": "packed plans at 1x and 1000x share the one "
        "(fused Arrow) seed tier; plan_stable_packed compares their "
        "structure with numeric literals blanked.",
        "results": results,
        "classification": (
            f"packed full build (seed + 1 local-join refine round) "
            f"completed at {factor}x: {big_row['sec']} s over "
            f"{big_row['n_vecs']} vectors, "
            f"{big_row['edges_per_vec']} edges/vec, "
            f"{big_capped} capped blocks; parity at {factor//10}x: "
            f"edge recall {mid_parity['edge_recall_vs_pairjoin']} vs "
            f"the pair-join reference, at 1x exact={base_exact}"
        ),
    }
    payload["headline"] = (
        f"NND FULL build at {factor}x via packed local-join refine: "
        f"{big_row['sec']} s ({big_row['edges_per_vec']} edges/vec); "
        f"{factor//10}x edge recall vs pair-join "
        f"{mid_parity['edge_recall_vs_pairjoin']}"
    )
    emit_artifact(out_path, payload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
