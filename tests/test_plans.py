"""Physical-plan assertions (SURVEY §4: verify the pruning/shuffle story
with explain(), not hope)."""

from __future__ import annotations

from manga_translator_spark.plans.pipeline import PipelineConfig, extract


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_fused_plan_is_shuffle_free(pages_df):
    plan = _plan(extract(pages_df, PipelineConfig()))
    assert "Exchange" not in plan  # whole pipeline: scan -> python -> project
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan


def test_scan_prunes_to_url_and_html(spark, tmp_path, pages_df):
    # through a real parquet scan (pages_df fixture is in-memory, so write)
    path = str(tmp_path / "pages")
    pages_df.write.parquet(path)
    scan = spark.read.parquet(path)
    plan = _plan(extract(scan, PipelineConfig()))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    line = read_schema[0]
    assert "url" in line and "html" in line
    assert "warc_ts" not in line and "lang" not in line  # pruned


def test_staged_plan_shuffles_only_for_recognition(pages_df):
    plan_norec = _plan(
        extract(pages_df, PipelineConfig(mode="staged", recognize=False))
    )
    assert "Exchange" not in plan_norec  # arrays assembler: zero shuffle
    plan_rec = _plan(extract(pages_df, PipelineConfig(mode="staged")))
    assert "Exchange" in plan_rec  # the small recognized group-back only


def test_cosine_topk_shuffle_is_rank_limited(spark):
    """The exact-ANN rank must not shuffle the full pair set.  r6 shape:
    the numpy kernel emits only each batch's local top-k per query (the
    partial-WindowGroupLimit bound, enforced in the kernel), so the only
    hash exchange in the plan is the tiny rank window ABOVE MapInPandas —
    the corpus side below the kernel is never hash-shuffled."""
    from manga_translator_spark.operators.similarity import cosine_topk

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = cosine_topk(df)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    mip_at = min(i for i, l in enumerate(lines) if "MapInPandas" in l)
    # window exchange above the kernel; nothing but spread()'s round-robin below
    hash_ex = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert hash_ex and all(i < mip_at for i in hash_ex), plan
    assert not any(
        "Exchange" in l and "RoundRobin" not in l for l in lines[mip_at + 1 :]
    ), plan
    assert "Window" in plan  # the global rank still runs as a JVM window
    # functional bound: per-query output is exactly k rows, ranked 1..k
    rows = cosine_topk(df, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3 for v in by_q.values())


def test_dedup_clusters_multi_hop_chain(spark):
    """Connected-components fixpoint: a 1-2, 2-3 chain (no 1-3 edge) must
    collapse into one cluster with canonical id 1 — requires >1 label-
    propagation round — and isolated docs stay singletons."""
    import pandas as pd

    from manga_translator_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "text": ["a", "b", "c", "d", "e"]})
    )
    chain = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 5], "doc_b": [2, 3, 4]})
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs=chain).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_embedding_lsh_candidates_are_capped(spark):
    """Bounded pair fan-out on a pathologically skewed embedding fixture:
    every vector identical => all land in one bucket per band; the
    per-bucket cap must bound candidate pairs at C(cap, 2), not C(n, 2)."""
    import pandas as pd

    from manga_translator_spark.operators.similarity import (
        LSH_EMB_BANDS,
        MAX_EMB_BUCKET,
        lsh_candidate_pairs,
    )

    n = 4 * MAX_EMB_BUCKET
    rows = pd.DataFrame(
        {"vec_id": range(n), "embedding": [[1.0] * 64 for _ in range(n)]}
    )
    df = spark.createDataFrame(rows)
    pairs = lsh_candidate_pairs(df).collect()
    cap_pairs = MAX_EMB_BUCKET * (MAX_EMB_BUCKET - 1) // 2
    assert 0 < len(pairs) <= cap_pairs  # bands dedup to the same capped set
    # deterministic victims: the cap keeps the lowest vec_ids
    assert max(max(p["vec_a"], p["vec_b"]) for p in pairs) < MAX_EMB_BUCKET


def test_cosine_topk_query_side_is_bounded(spark):
    """The query side must be constant-bounded (VERDICT r02 #4): the
    ordered limit caps the collected query matrix regardless of corpus
    size (r6: the cap executes in the bounded build-time collect), and a
    max_queries below the subset size truncates deterministically to the
    lowest vec_ids."""
    from manga_translator_spark.operators.similarity import cosine_topk

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # functional bound: 2 queries only, the two lowest matching vec_ids
    got = cosine_topk(df, k=2, max_queries=2).collect()
    qids = sorted({r["query_id"] for r in got})
    all_qids = sorted(
        r["vec_id"] for r in df.filter("vec_id % 97 = 0").select("vec_id").collect()
    )
    assert qids == all_qids[:2]
    # explicit query DataFrame overrides the modulo subset
    explicit = df.filter("vec_id % 31 = 1").select("vec_id", "embedding")
    got2 = cosine_topk(df, k=1, queries=explicit, max_queries=3).collect()
    exp_q = sorted(r["vec_id"] for r in explicit.select("vec_id").collect())[:3]
    assert sorted({r["query_id"] for r in got2}) == exp_q


def test_ann_siblings_query_side_is_bounded(spark):
    """ann_ivf_topk and ann_topk_in_bucket carry cosine_topk's query-side
    contract (VERDICT r03 #2): max_queries truncates deterministically to
    the lowest vec_ids, an explicit queries DataFrame overrides the modulo
    subset, and pinned defaults leave the driver queries unchanged."""
    from manga_translator_spark.operators.similarity import (
        ann_ivf_topk,
        ann_topk_in_bucket,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    all_qids = sorted(
        r["vec_id"] for r in df.filter("vec_id % 97 = 0").select("vec_id").collect()
    )
    explicit = df.filter("vec_id % 31 = 1").select("vec_id", "embedding")
    exp_q = sorted(r["vec_id"] for r in explicit.select("vec_id").collect())[:3]
    for op in (ann_ivf_topk, ann_topk_in_bucket):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "GlobalLimit" in plan or "TakeOrdered" in plan, plan
        got = op(df, k=2, max_queries=2).collect()
        qids = sorted({r["query_id"] for r in got})
        assert qids and set(qids) <= set(all_qids[:2])
        got2 = op(df, k=1, queries=explicit, max_queries=3).collect()
        assert got2 and set(r["query_id"] for r in got2) <= set(exp_q)
        # capped defaults == the uncapped r3 shape at this scale (the twin
        # equality the driver gate re-proves at sf0.01)
        base = {
            (r["query_id"], r["neighbor_id"], r["rank"]) for r in op(df).collect()
        }
        wide = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in op(df, max_queries=10**6).collect()
        }
        assert base == wide


def test_training_gate_tokenizes_once(spark, tmp_path):
    """The fused training-corpus gate projection must contain exactly ONE
    tokenizer evaluation (VERDICT r03 #3): the gopher verdict, the
    repetition verdict and n_tokens all read the same let-bound array.
    The composed r3 form tokenized three times."""
    import pandas as pd

    from manga_translator_spark.operators.text_analysis import (
        quality_repetition_signals,
    )

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["the and of a b", "x y"]})
    ).write.parquet(path)
    plan = _plan(quality_repetition_signals(spark.read.parquet(path)))
    # '[^a-z0-9]' is the tokenizer's regexp_replace class (texthash.py r6
    # fast form — space dropped from the class, output-identical);
    # each occurrence in the physical plan is one tokenization of the doc
    assert plan.count("[^a-z0-9]") == 1, plan
    # narrow: no aggregation/join shuffle (spread()'s round-robin
    # repartition of a small scan is the only allowed Exchange)
    tree = plan.split("\n\n")[0]
    assert "HashAggregate" not in tree and "Join" not in tree, tree
    assert all(
        "RoundRobin" in l or "Exchange" not in l
        for l in plan.splitlines()
        if "Arguments" in l and "Partitioning" in l
    ), plan


def test_training_gate_equals_composed_operators(spark):
    """quality_repetition_signals == gopher_quality ⨯ repetition_stats ⨯
    with_tokens on real documents (the equality that keeps the fused gate
    and the driver twin honest)."""
    from manga_translator_spark.operators.text_analysis import (
        gopher_quality,
        quality_repetition_signals,
        repetition_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused = {
        r["doc_id"]: (r["n_tokens"], r["gq_keep"], r["rep_keep"])
        for r in quality_repetition_signals(docs).collect()
    }
    gq = {r["doc_id"]: (r["n_tokens"], r["keep"]) for r in gopher_quality(docs).collect()}
    rep = {r["doc_id"]: r["rep_keep"] for r in repetition_stats(docs).collect()}
    assert set(fused) == set(gq) == set(rep)
    for d, (n, g, rkeep) in fused.items():
        assert (n, g) == gq[d], d
        assert rkeep == rep[d], d
    # both verdict values occur (the corpus exercises the gates)
    assert {g for _, g, _ in fused.values()} == {0, 1} or len(fused) < 50


def test_ivf_kmeans_centroids_deterministic_and_better(spark):
    """The sampled-Lloyd quantizer (VERDICT r03 #4) is deterministic (same
    data -> identical top-k twice) and, measured over a dense query set,
    does not lose recall vs the first-N quantizer (at sf0.01 it WINS:
    0.175->0.228 @ nprobe=1, 0.481->0.547 @ nprobe=4; pinned numbers in
    COVERAGE.md — here we assert the cheap sf0.001 invariant)."""
    from manga_translator_spark.operators.similarity import (
        ann_ivf_topk,
        ann_recall,
        cosine_topk,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(map(tuple, ann_ivf_topk(df, centroids="kmeans").collect()))
    b = sorted(map(tuple, ann_ivf_topk(df, centroids="kmeans").collect()))
    assert a and a == b
    # recall evaluation runs over the kmeans variant and stays in [0, 1e6]
    rec = ann_recall(df, approx=ann_ivf_topk(df, centroids="kmeans")).collect()
    assert rec and all(0 <= r["recall_ppm"] <= 1_000_000 for r in rec)
    # denser query set via the threaded query_mod: kmeans >= first - slack
    qm = 7
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(df, 5, query_mod=qm).collect()}
    hits = {}
    for mode in ("first", "kmeans"):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ann_ivf_topk(df, 5, query_mod=qm, centroids=mode).collect()
        }
        hits[mode] = len(exact & approx)
    assert hits["kmeans"] >= hits["first"] - len(exact) // 20, hits


def test_semantic_dedup_greedy_rule_and_cell_invariant(spark):
    """The SemDeDup greedy by-id rule on an engineered one-cell corpus:
    with a~b, b~c, a!~c (ids a<b<c), BOTH b and c drop — c's only
    near-dup b was itself dropped, which is the paper's one-pass
    approximation, not connected-components — and the lowest id always
    survives.  On real testdata every non-empty cell keeps >= 1 vector
    and the total row count is the input count."""
    import math

    import pandas as pd

    from manga_translator_spark.operators.similarity import (
        EMB_DIM,
        semantic_dedup,
    )

    # unit vectors in a 2-D subspace: angle 0, 50, 100 degrees ->
    # cos(a,b)=cos(b,c)~0.643 >= 0.6, cos(a,c)~-0.17 < 0.6
    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (EMB_DIM - 2)

    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [10, 11, 12], "embedding": [vec(0), vec(50), vec(100)]}
        )
    )
    got = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(df, threshold=0.6, n_cells=1, centroids="first").collect()
    }
    assert got == {10: True, 11: False, 12: False}
    # corpus invariants at sf0.001
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = semantic_dedup(emb, threshold=0.3).collect()
    assert len(rows) == emb.count()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    assert all(any(x["kept"] for x in v) for v in by_cell.values())
    # the lowest id in each cell is always kept
    assert all(min(v, key=lambda x: x["vec_id"])["kept"] for v in by_cell.values())


def test_ivf_kmeans_kernel_guards_and_twin_parity(spark):
    """ADVICE r4 #1: the kmeans kernel fails loudly on an empty or
    all-zero-norm sample (np.linalg.norm raised AxisError before any
    guard), yields fewer cells than n_cells on a thin sample, and the
    twin-builder path (duckdb parquet read -> shared kernel) produces
    bit-identical centroids to the Spark collect path — the property the
    pinned-literal oracle depends on."""
    import numpy as np
    import pytest as _pytest

    from manga_translator_spark.operators.similarity import (
        IVF_N_CELLS,
        _ivf_centroids_kmeans,
        ivf_kmeans_centroid_rows,
        ivf_kmeans_refine,
    )

    with _pytest.raises(ValueError, match="non-empty"):
        ivf_kmeans_refine([], 4)
    with _pytest.raises(ValueError, match="nonzero-norm"):
        ivf_kmeans_refine([[0.0, 0.0], [0.0, 0.0]], 2)
    thin = ivf_kmeans_refine([[1.0, 0.0], [0.0, 0.0], [0.0, 2.0]], 8)
    assert thin.shape == (2, 2)  # zero-norm row dropped, 2 < n_cells cells
    assert np.allclose(np.linalg.norm(thin, axis=1), 1.0)

    pq = "/root/testdata/sf0.001/embeddings.parquet"
    pinned = ivf_kmeans_centroid_rows(pq)
    spark_side = sorted(
        (r["cell"], r["c_emb"])
        for r in _ivf_centroids_kmeans(spark.read.parquet(pq), IVF_N_CELLS).collect()
    )
    assert len(pinned) == len(spark_side) == IVF_N_CELLS
    for (pc, pemb), (sc_, semb) in zip(pinned, spark_side):
        assert pc == sc_ and pemb == semb  # exact float64 equality


def test_dedup_clusters_max_iters_guard(spark):
    """An adversarial long chain must hit the round bound and raise, not
    loop silently (each round is a full-graph barrier at 100 TB)."""
    import pandas as pd
    import pytest as _pytest

    from manga_translator_spark.operators.dedup import dedup_clusters

    n = 12  # chain 0-1-2-...-11: diameter 11 > max_iters=3
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": range(n), "text": ["x"] * n}))
    chain = spark.createDataFrame(
        pd.DataFrame({"doc_a": range(n - 1), "doc_b": range(1, n)})
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs=chain, max_iters=3)
    # and a generous bound still converges to one cluster
    got = dedup_clusters(docs, pairs=chain, max_iters=20).collect()
    assert {r["cluster_id"] for r in got} == {0}


def test_scale_knobs_are_arguments_and_described(spark):
    """Changed knobs need no module edit (VERDICT r02 #3): non-default
    n_cells/nprobe/planes/bands/caps flow through, and describe() lists
    every knob with its pinned default."""
    import pandas as pd

    from manga_translator_spark.operators import dedup, similarity
    from manga_translator_spark.plans.pipeline import describe

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # IVF: more cells + nprobe=2 runs and yields ranked rows per query
    got = similarity.ann_ivf_topk(emb, k=2, n_cells=8, nprobe=2).collect()
    assert got and all(r["rank"] <= 2 for r in got)
    # nprobe=2 probes a superset of nprobe=1 => per-query top-1 cosine >=
    nb1 = {
        r["query_id"]: r["cos_sim"]
        for r in similarity.ann_ivf_topk(emb, k=1, n_cells=8, nprobe=1).collect()
    }
    nb2 = {
        r["query_id"]: r["cos_sim"]
        for r in similarity.ann_ivf_topk(emb, k=1, n_cells=8, nprobe=2).collect()
    }
    assert all(nb2[q] >= nb1[q] for q in nb1)
    # LSH: 8 planes / 4 bands / cap 10 flows through both families
    assert similarity.lsh_candidate_pairs(emb, n_planes=8, n_bands=4, max_bucket=10).count() >= 0
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d e", "a b c d e"]})
    )
    assert dedup.lsh_candidate_pairs(docs, k=4, bands=2, max_bucket=5).count() == 1
    ops = describe()["operators"]
    assert ops["similarity.ann_ivf_topk"]["n_cells"]["default"] == similarity.IVF_N_CELLS
    assert ops["similarity.ann_ivf_topk"]["nprobe"]["default"] == similarity.IVF_NPROBE
    assert ops["dedup.lsh_candidate_pairs"]["max_bucket"]["default"] == dedup.MAX_BUCKET
    assert ops["similarity.cosine_topk"]["max_queries"]["default"] == similarity.MAX_QUERIES
    # the shipped quantizer must be read live (r5: describe() said "first"
    # while the signature default was already "kmeans" — drift class)
    from manga_translator_spark.operators import curation
    import inspect

    assert ops["similarity.ann_ivf_topk"]["centroids"]["default"] == similarity.IVF_CENTROIDS
    assert (
        inspect.signature(similarity.ann_ivf_topk).parameters["centroids"].default
        == similarity.IVF_CENTROIDS
    )
    assert ops["curation.pack_sequences"]["capacity"]["default"] == curation.PACK_CAPACITY
    assert ops["curation.decontaminate"]["w"]["default"] == curation.DECONTAM_W


def test_repetition_plan_prunes_and_computes_struct_once(spark, tmp_path):
    """doc_repetition: 2-column pruned scan, no Exchange beyond the
    deliberate spread() round-robin, and the nested let-binding holds —
    the ngram struct appears in exactly ONE Project (rep_keep reads struct
    fields instead of re-expanding the fold)."""
    import pandas as pd

    from manga_translator_spark.operators.text_analysis import repetition_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b a b", "x"], "lang": ["en"] * 2})
    ).write.parquet(path)
    plan = _plan(repetition_stats(spark.read.parquet(path)))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema  # pruned
    assert plan.count("RoundRobinPartitioning") <= 1
    exchanges = [l for l in plan.splitlines() if "Exchange" in l and "RoundRobin" not in l]
    assert not any("hashpartitioning" in l for l in exchanges), exchanges
    # the expensive fold is evaluated once: 'aggregate(sort_array' occurs in
    # exactly one plan node (the struct-producing Project)
    assert plan.count("aggregate(sort_array") == 1, plan.count("aggregate(sort_array")


def test_extract_any_router_pushes_sniff_to_scan(spark, tmp_path, pages_df):
    """The %PDF- byte sniff must reach the parquet scan on both branches
    (each row's bytes are read by exactly one branch's surviving filter),
    and neither branch introduces a shuffle."""
    from manga_translator_spark.operators.pdf_extract import extract_any

    path = str(tmp_path / "mixed")
    pages_df.write.parquet(path)
    plan = _plan(extract_any(spark.read.parquet(path)))
    # both branches scan pruned columns and filter on the byte sniff
    # BEFORE their Python stage (codegen Condition, no shuffle anywhere)
    tree = plan.split("\n\n")[0]  # tree view; node details repeat the names
    assert tree.count("Scan parquet") == 2
    conds = [
        l for l in plan.splitlines()
        if l.strip().startswith("Condition") and "substring" in l
    ]
    assert len(conds) == 2, plan[:2000]
    assert "Exchange" not in plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("url" in l and "html" in l and "lang" not in l for l in read_schemas)


def test_latest_snapshot_window_is_rank_limited(spark, tmp_path, pages_df):
    """The newest-snapshot window must get the partial WindowGroupLimit
    below the exchange (one candidate per partition+url crosses the
    shuffle, not every snapshot)."""
    from manga_translator_spark.operators.dedup import latest_snapshot

    path = str(tmp_path / "snaps")
    pages_df.write.parquet(path)
    plan = _plan(latest_snapshot(spark.read.parquet(path)))
    assert "WindowGroupLimit" in plan
    # partial limit appears BEFORE the exchange in the tree
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    first_wgl = min(i for i, l in enumerate(lines) if "WindowGroupLimit" in l)
    last_wgl = max(i for i, l in enumerate(lines) if "WindowGroupLimit" in l)
    exch = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert exch and first_wgl < exch[0] < last_wgl or len(
        [i for i in range(len(lines)) if "WindowGroupLimit" in lines[i]]
    ) >= 2


def test_spread_probe_semantics(spark, tmp_path):
    """spread() repartitions small file scans, passes through in-memory
    frames AND post-shuffle frames — inputFiles() sees through joins to
    the leaf scan, so without the logical-plan guard every spread() call
    site downstream of a join would add a redundant exchange (r4 review)."""
    import pandas as pd

    from manga_translator_spark.operators.common import spread

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(10), "text": ["x"] * 10})
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert spread(scan).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    mem = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["y"]}))
    assert spread(mem) is mem
    joined = scan.alias("a").join(scan.alias("b").select("doc_id"), "doc_id")
    assert spread(joined) is joined
    agg = scan.groupBy("text").count()
    assert spread(agg) is agg
    # identifiers that merely CONTAIN a shuffle-node name must not
    # disable the repartition (ADVICE r4 #4: the guard is a line-prefix
    # node match, not a raw substring scan)
    trap_path = str(tmp_path / "trap")
    spark.createDataFrame(
        pd.DataFrame({"WindowEvents": range(10), "JoinKey": ["x"] * 10})
    ).coalesce(1).write.parquet(trap_path)
    trap = spark.read.parquet(trap_path).filter("JoinKey = 'x'")
    assert "WindowEvents" in trap._jdf.queryExecution().logical().toString()
    assert spread(trap).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_snapshot_asof_filter_pushes_to_scan(spark, tmp_path, pages_df):
    """The as-of cutoff must reach the parquet scan as a pushed filter
    (partition pruning on a warc_ts-partitioned crawl table), and the
    rank window keeps the partial WindowGroupLimit below the exchange."""
    from pyspark.sql import functions as F

    from manga_translator_spark.operators.dedup import snapshot_asof

    path = str(tmp_path / "snaps_ts")
    pages_df.withColumn(
        "warc_ts", F.expr("timestamp'2025-06-01 00:00:00'")
    ).write.parquet(path)
    plan = _plan(snapshot_asof(spark.read.parquet(path), "2025-06-02 00:00:00"))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "warc_ts" in pushed[0], plan
    assert "WindowGroupLimit" in plan


def test_token_surprise_aggregates_map_side(spark, tmp_path):
    """The token-count stage must partial-aggregate before its exchange
    (the map-side combine that makes corpus word-count scale), and the
    frequency join-back must carry NO unconditional broadcast hint: with
    the auto-broadcast threshold forced to -1, a hint would still produce
    a BroadcastExchange, so its absence proves AQE owns the decision
    (VERDICT r03 #1 — the corpus vocabulary is 1e8+ rows at 100 TB)."""
    import pandas as pd

    from manga_translator_spark.operators.text_analysis import token_surprise

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b a", "b c"]})
    ).write.parquet(path)
    plan = _plan(token_surprise(spark.read.parquet(path)))
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    # a partial HashAggregate strictly below (after) the first exchange line
    exch = [i for i, l in enumerate(lines) if "Exchange" in l]
    aggs = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    assert exch and aggs and max(aggs) > min(exch), tree
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        unhinted = _plan(token_surprise(spark.read.parquet(path)))
        assert "BroadcastExchange" not in unhinted, unhinted
        # the capped-vocab form IS hinted — bounded by construction
        capped = _plan(token_surprise(spark.read.parquet(path), vocab_limit=64))
        assert "BroadcastExchange" in capped, capped
        assert "TakeOrderedAndProject" in capped, capped  # scalable top-N
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dedup_clusters_zero_edges_matches_twin(spark, tmp_path):
    """A corpus with no LSH collisions has no edges: the convergence sum is
    NULL, which must end the loop (not run it to max_iters) and give one
    cluster per doc, as the DuckDB twin does."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    n = 6
    texts = [" ".join(f"w{d}x{i}" for i in range(30)) for d in range(n)]
    pd.DataFrame(
        {
            "doc_id": range(n),
            "text": texts,
            "lang": ["en"] * n,
            "source": ["web"] * n,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {tuple(r) for r in entry.queries()["dedup_clusters"](spark, str(tmp_path)).collect()}
    assert got == {(d, d) for d in range(n)}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
    assert {tuple(r) for r in con.execute(entry.oracle_sql()["dedup_clusters"]).fetchall()} == got
