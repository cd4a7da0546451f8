"""Plan-shape regression tests: the scale discipline, asserted.

A correct-but-badly-planned operator is a failure at 100 TB; these
tests pin the plan properties that matter (SURVEY §4): no shuffle in
grid builds, filter pushdown + column pruning reaching the parquet
scans, broadcast joins for small dimension tables.
"""

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from xyzpy_spark.grid import combo_grid
from xyzpy_spark.plans.inspect import (
    count_exchanges,
    executed_plan,
    has_exchange,
    pushed_filters,
    scan_columns,
    wholestage_codegen_ids,
)
from xyzpy_spark.sources.tables import read_table

SF_DIR = "/root/testdata/sf0.001"


def test_grid_build_is_shuffle_free(spark):
    df = combo_grid(spark, {"a": list(range(10)), "b": list(range(10))})
    assert not has_exchange(df)


def test_filter_pushdown_reaches_scan(spark):
    li = read_table(spark, SF_DIR, "lineitem")
    q = li.where(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    pushed = pushed_filters(q)
    assert any("l_orderkey" in p for p in pushed), pushed


def test_column_pruning_reaches_scan(spark):
    li = read_table(spark, SF_DIR, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    cols = scan_columns(q)
    assert set(cols) == {"l_returnflag", "l_quantity"}, cols


def test_single_shuffle_aggregation(spark):
    li = read_table(spark, SF_DIR, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    assert count_exchanges(q) == 1


def test_small_dim_join_broadcasts(spark):
    nat = read_table(spark, SF_DIR, "nation")
    cust = read_table(spark, SF_DIR, "customer")
    q = cust.join(nat, cust.c_nationkey == nat.n_nationkey)
    assert "BroadcastHashJoin" in executed_plan(q)


def test_aggregation_stays_in_codegen(spark):
    li = read_table(spark, SF_DIR, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.avg("l_quantity").alias("m"))
    assert len(wholestage_codegen_ids(q)) >= 1


def test_pipeline_ops_avoid_python(spark):
    """Text/dedup hot paths must contain no python UDF evaluators."""
    from xyzpy_spark.pipeline.dedup import minhash_signatures
    from xyzpy_spark.pipeline.text import add_quality

    docs = read_table(spark, SF_DIR, "documents")
    for q in [add_quality(docs), minhash_signatures(docs, num_perm=8)]:
        plan = executed_plan(q)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan


def test_asof_join_single_exchange_no_python(spark):
    """As-of join = union + window: exactly one hash exchange on the
    key, no non-equi join node, no Python evaluator."""
    from xyzpy_spark.operators.temporal import asof_join

    ev = read_table(spark, SF_DIR, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    q = asof_join(
        clicks, views, on="ts", by="user_id",
        value_cols=["value"], tiebreak=["event_id"],
    )
    plan = executed_plan(q)
    assert count_exchanges(q) == 1, plan
    assert "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan


def test_time_rollup_single_pass(spark):
    """All rollup resolutions come from ONE scan + ONE exchange
    (Expand feeds a single partial aggregation)."""
    from xyzpy_spark.operators.temporal import time_rollup

    ev = read_table(spark, SF_DIR, "events")
    q = time_rollup(
        ev, "ts", {"n": F.count(F.lit(1))}, levels=("hour", "day")
    )
    plan = executed_plan(q)
    assert count_exchanges(q) == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert "Expand" in plan


def test_hash_sample_is_shuffle_free_codegen(spark):
    """Deterministic sampling is a pure filter: no exchange, no
    Python, stays inside whole-stage codegen."""
    from xyzpy_spark.pipeline.sampling import stratified_sample

    ev = read_table(spark, SF_DIR, "events")
    q = stratified_sample(
        ev, "event_id", "event_type", {"view": 0.5, "click": 1.0}
    )
    plan = executed_plan(q)
    assert not has_exchange(q), plan
    assert "BatchEvalPython" not in plan
    assert len(wholestage_codegen_ids(q)) >= 1


def test_keyless_range_join_avoids_nested_loop(spark):
    """Bucketed keyless range join must plan as a hash/SMJ equi-join
    on the bin id, not BroadcastNestedLoopJoin."""
    from xyzpy_spark.operators.temporal import range_join

    a = spark.range(0, 1000).select(F.col("id").alias("lid"), (F.col("id") * 7 % 997).alias("t"))
    b = spark.range(0, 1000).select(F.col("id").alias("rid"), (F.col("id") * 13 % 997).alias("t"))
    q = range_join(a, b, on="t", lower=0, upper=20, bin_width=20)
    plan = executed_plan(q)
    assert "NestedLoop" not in plan, plan


def test_lsh_pair_dedup_avoids_signature_shuffle(spark):
    """MinHash/SimHash pair scoring must happen before the pair-dedup
    aggregation: the plan carries only (id_a, id_b, score) through the
    exchange (HashAggregate, not a SortAggregate dragging signature
    arrays), and the threshold filter sits inside the bucket join so
    sub-threshold candidates never shuffle."""
    from xyzpy_spark.pipeline.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )

    docs = read_table(spark, SF_DIR, "documents")
    for pairs in [
        minhash_lsh_pairs(docs, num_perm=16, bands=4, threshold=0.4),
        simhash_near_pairs(docs, max_hamming=3),
    ]:
        plan = executed_plan(pairs)
        assert "SortAggregate" not in plan
        assert "HashAggregate" in plan
        # no signature column survives past the join projection into
        # the exchange
        agg_part = plan.split("Exchange", 1)[0]
        assert "sig_a" not in agg_part and "sig_b" not in agg_part


def test_pii_scrub_is_shuffle_free_codegen(spark):
    """The scrub stack must run at scan speed: zero exchanges, no
    Python evaluators."""
    from xyzpy_spark.pipeline.text import scrub_pii

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    q = scrub_pii(docs)
    assert not has_exchange(q)
    plan = executed_plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval n-gram set must broadcast: the training stream joins
    without shuffling its n-grams to the join."""
    from xyzpy_spark.pipeline.text import contamination_hits

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    train = docs.where(F.col("doc_id") % 10 != 0)
    ev = docs.where(F.col("doc_id") % 10 == 0)
    plan = executed_plan(contamination_hits(train, ev, n=5))
    assert "BroadcastHashJoin" in plan


def test_dedup_clusters_bounded_plan_depth(spark):
    """localCheckpoint must truncate lineage: after 12 label-prop
    rounds the final plan may not contain the full join cascade."""
    from xyzpy_spark.pipeline.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(13)], ["id_a", "id_b"]
    )
    out = dedup_clusters(pairs, max_iter=30)
    plan = executed_plan(out)
    # execution reads the final round's cache directly: no join may
    # appear above the first InMemoryTableScan
    top = plan.split("InMemoryTableScan", 1)[0]
    assert "Join" not in top, top
    # and a checkpoint boundary (LogicalRDD/ExistingRDD scan) exists
    # in the provenance — the recompute path is cut every 5 rounds
    assert "Scan ExistingRDD" in plan


def test_mix_corpora_is_shuffle_free_codegen(spark):
    """A weighted mixture is a scan-speed op: the copy count is a CASE
    over a hash, the copies an explode — zero exchanges, no Python."""
    from xyzpy_spark.pipeline.sampling import mix_corpora

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "source")
    q = mix_corpora(docs, "doc_id", "source", {"src0": 2.5}, default=1.0)
    assert not has_exchange(q)
    plan = executed_plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pack_sequences_single_shard_exchange(spark):
    """Chunk packing pays exactly one shuffle (by shard, for the
    window cumsum) and stays JVM-side."""
    from xyzpy_spark.pipeline.packing import pack_sequences

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    q = pack_sequences(docs, max_tokens=256, n_shards=4)
    assert count_exchanges(q) == 1
    plan = executed_plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count
    must sort-merge join with ZERO exchanges — the write-once,
    join-many layout for repeated harvest/dedup joins."""
    from xyzpy_spark.sources.tables import save_bucketed

    a = spark.range(0, 10000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 10000).withColumn("vb", F.col("id") + 7)
    save_bucketed(a, "bkt_a", buckets=8, by="id", path=str(tmp_path / "a"))
    save_bucketed(b, "bkt_b", buckets=8, by="id", path=str(tmp_path / "b"))
    try:
        ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = ta.join(tb, "id")
            assert not has_exchange(j)
            assert j.count() == 10000
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_quality_model_is_shuffle_free_codegen(spark):
    """The model scorer is a map-only scan: zero exchanges, no Python
    evaluators, and the parquet scan prunes to (doc_id, text)."""
    from xyzpy_spark.pipeline.text import score_quality_model

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    q = score_quality_model(docs)
    assert not has_exchange(q)
    plan = executed_plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert set(scan_columns(q)) <= {"doc_id", "text"}


def test_semantic_dedup_single_cluster_shuffle(spark):
    """Pairwise work is confined to clusters: the only exchange is
    the hash partition by cluster id feeding applyInPandas (plus the
    AQE coalesce reader) — no all-pairs join anywhere."""
    from xyzpy_spark.pipeline.dedup import semantic_dedup

    emb = read_table(spark, SF_DIR, "embeddings")
    q = semantic_dedup(emb, n_clusters=4, threshold=0.9)
    plan = executed_plan(q)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_dedup_incremental_index_never_shuffle_joins(spark):
    """Every join in the incremental-dedup probe broadcasts the
    batch-sized side — the historical index must never hit a
    sort-merge join."""
    from xyzpy_spark.pipeline.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    index = build_dedup_index(corpus, n=2)
    plan = executed_plan(dedup_against_index(batch, index, n=2))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_skew_query_uses_cms_hot_keys_and_broadcast(spark):
    """The contract skew query discovers hot keys via the CMS sketch
    (bounded driver probe, no exact groupBy-count pre-pass) and the
    salted join broadcasts the hot set + explodes only the dim side."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["skew_salted_revenue"](spark, SF_DIR)
    plan = executed_plan(q)
    assert "BroadcastHashJoin" in plan  # hot-key marker joins broadcast
    assert "Explode" in plan or "Generate" in plan  # salt fan-out
    # the sketch path is driver-side; the Spark plan must NOT contain
    # an extra full aggregate on the fact side for hot-key discovery
    assert "BatchEvalPython" not in plan


def test_hot_keys_bounded_candidates(spark):
    """heavy_hitters caps the driver-side CMS probe: a low threshold
    over a high-cardinality key must not collect every distinct value
    (r3 fix for the py4j per-value probe loop)."""
    from xyzpy_spark.functions.sketch import heavy_hitters

    df = spark.range(20000).selectExpr("id % 5000 AS v")  # 5000 distinct
    hh = heavy_hitters(df, "v", threshold=1e-9, max_candidates=64)
    assert len(hh) <= 64  # capped, not 5000


def test_substring_spans_no_self_join(spark):
    """Substring dedup must stay linear: the plan has window exchanges
    but NO join at all — per-gram count and first-occurrence winner
    are window aggregates over ONE derivation of the occurrence
    stream (r13: the former groupBy + join-back planted the tokenize
    + posexplode + lead-window subtree twice) — and no Python
    evaluators."""
    from xyzpy_spark.pipeline.dedup import duplicate_substring_spans

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    q = duplicate_substring_spans(docs, k=5)
    plan = executed_plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # zero joins: gram stats ride a window over the single occ pass
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") == 0, plan
    # and the corpus is scanned once, not once per consumer
    assert plan.count("Scan parquet") == 1, plan


def test_winnow_dedup_pairs_capped_equi_join_plan(spark):
    """The winnowed inverted-index join must be an equi-join on the
    fingerprint (never all-pairs), fully JVM-side, with the frequency
    cap expressed as an aggregate + semi-join — the shape that keeps
    candidate work linear in corpus size."""
    from xyzpy_spark.pipeline.dedup import winnow_dedup_pairs

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    q = winnow_dedup_pairs(
        docs, k=6, w=5, threshold=0.2, max_fp_freq=50, cache=False
    )
    plan = executed_plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan  # the frequency cap


def test_pq_scan_prunes_vectors(spark, tmp_path):
    """With materialized codes, the PQ candidate scan must read only
    (id, codes) — the full embedding column reaches the plan ONLY
    through the shortlist re-rank scan.  That scanned-bytes cut
    (256 B -> 16 B per row here) is the reason the tier exists."""
    from xyzpy_spark.pipeline.similarity import pq_build, pq_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    coded, cbs = pq_build(emb, m=16, ksub=16, kmeans_iters=0)
    path = str(tmp_path / "pq_codes")
    coded.write.parquet(path)
    stored = spark.read.parquet(path)
    q = pq_topk(
        stored, cbs, emb.where(F.col("vec_id") < 3), k=5, shortlist=20
    )
    plan = executed_plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    scans = [
        seg for seg in plan.split("ReadSchema: ")[1:]
    ]
    code_scans = [
        s for s in scans
        if s.startswith("struct<") and "codes" in s.split("\n")[0]
        and "embedding" not in s.split("\n")[0]
    ]
    assert code_scans, f"no codes-only scan found:\n{plan}"


def test_image_ops_single_python_stage(spark):
    """decode+resize / decode+features fuse into ONE Arrow python
    stage over the scan — no shuffle, no chained python evaluators."""
    from xyzpy_spark.pipeline.multimodal import (
        attach_sample_png,
        image_features,
        resize_image,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id")
    for q in [
        resize_image(attach_sample_png(docs), 4, 4),
        image_features(attach_sample_png(docs)),
    ]:
        assert not has_exchange(q)
        plan = executed_plan(q)
        # the attach + decode stages are mapInPandas: python stages are
        # expected, but there must be no exchange between them
        assert "Exchange" not in plan


def test_quality_serving_broadcasts_weights(spark):
    """Trained-weight serving must broadcast the weight table — the
    corpus never shuffles to meet the weights; the only exchange is
    the per-doc margin aggregation + assembly join."""
    from xyzpy_spark.pipeline.text import score_quality_trained

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    weights = spark.createDataFrame(
        [(i, 0.5 - (i % 3) * 0.25) for i in range(100)],
        "bucket long, weight double",
    )
    q = score_quality_trained(docs, weights, 0.1)
    plan = executed_plan(q)
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_lm_scoring_broadcasts_lm_and_single_doc_shuffle(spark):
    """The 100-TB property of LM scoring: both LM tables join as
    broadcasts (the corpus side never shuffles for the joins); the
    only corpus-keyed exchange is the per-doc aggregation."""
    from xyzpy_spark.pipeline.lm import score_bigram_nll, train_bigram_lm

    docs = read_table(spark, SF_DIR, "documents")
    uni, bi, v = train_bigram_lm(docs.where(F.col("doc_id") % 10 == 0))
    scored = score_bigram_nll(
        docs.where(F.col("doc_id") % 10 != 0), uni, bi, v
    )
    plan = executed_plan(scored)
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_bloom_probe_is_map_only(spark):
    """The probe side of a Bloom decontamination: pure column
    expression — no join, no exchange before the per-doc count."""
    from xyzpy_spark.functions.sketch import bloom_contains

    docs = read_table(spark, SF_DIR, "documents")
    words = [0] * 64  # empty 4096-bit filter: plan shape, not content
    probed = docs.select(
        "doc_id",
        bloom_contains(F.col("text"), words, m_bits=1 << 12, k=4).alias(
            "hit"
        ),
    )
    assert not has_exchange(probed)
    assert "Join" not in executed_plan(probed)


def test_project_embeddings_is_map_only(spark):
    """JL projection: literal sign arrays folded per row — zero
    joins, zero exchanges, no explode row inflation."""
    from xyzpy_spark.pipeline.similarity import project_embeddings

    emb = read_table(spark, SF_DIR, "embeddings")
    out = project_embeddings(emb, 4, in_dim=64)
    plan = executed_plan(out)
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode
    assert not has_exchange(out), plan


def test_corpus_stats_two_level_agg_no_expand(spark):
    """The dup-rate rollup pre-aggregates per fingerprint instead of
    count(distinct): no Expand node doubling the scan."""
    from xyzpy_spark.pipeline.text import corpus_stats

    docs = read_table(spark, SF_DIR, "documents")
    plan = executed_plan(corpus_stats(docs))
    assert "Expand" not in plan
    assert count_exchanges(corpus_stats(docs)) == 2


def test_tokenized_sequences_no_per_token_window(spark):
    """Packing must get global offsets from a per-DOC cumsum, never a
    per-token row_number (which would total-sort each shard's token
    stream on one task)."""
    from xyzpy_spark.pipeline.tokenizer import (
        tokenized_sequences,
        train_bpe,
    )

    from xyzpy_spark.pipeline.tokenizer import bpe_vocab, bpe_encode

    docs = read_table(spark, SF_DIR, "documents")
    merges = train_bpe(docs, num_merges=10, min_freq=2)
    # freeze the vocab driver-side: bpe_vocab's own (vocabulary-sized,
    # intentional) row_number window would otherwise ride the
    # broadcast side of the plan and mask the assertion
    v = bpe_vocab(bpe_encode(docs, merges))
    frozen = spark.createDataFrame(v.collect(), v.schema)
    seqs, _ = tokenized_sequences(
        docs, merges, max_tokens=64, vocab=frozen
    )
    plan = executed_plan(seqs)
    assert "row_number" not in plan
    # the doc-offset window feeds the token explode: in the printed
    # tree (parents first) Generate must appear ABOVE the Window it
    # consumes, and a Window must exist at all (the per-doc cumsum)
    assert "Window" in plan
    assert plan.index("Generate") < plan.index("Window"), plan


def test_all_contract_queries_emit_scalar_columns_only(spark):
    """Every ``queries()`` entry must return atomic (scalar-sortable)
    columns: the driver's canonicalizer sorts rows with pandas
    ``sort_values`` and crashes with "unhashable type: 'list'" on any
    array/map/struct cell (the round-3 ``project_embeddings`` red row
    — VERDICT r3 item 2).  Constructing each DataFrame is enough to
    read its schema; a few queries (streaming, crop) execute eagerly,
    which keeps this test honest about what the driver actually runs.
    """
    from pyspark.sql import types as T

    import __spark_entry__ as entrymod

    banned = (T.ArrayType, T.MapType, T.StructType)
    offenders = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, banned)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"contract queries with non-scalar output columns: {offenders}"
    )


def test_gopher_rules_map_only(spark):
    """The Gopher rule stack must be pure column arithmetic: no
    exchange, no Python stage."""
    from xyzpy_spark.pipeline.text import add_gopher_rules

    docs = read_table(spark, SF_DIR, "documents")
    df = add_gopher_rules(docs)
    assert not has_exchange(df)
    plan = executed_plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan


def test_chunk_documents_map_only(spark):
    from xyzpy_spark.pipeline.text import chunk_documents

    docs = read_table(spark, SF_DIR, "documents")
    df = chunk_documents(docs, max_tokens=16, overlap=4)
    assert not has_exchange(df)
    assert "Python" not in executed_plan(df)


def test_strip_html_map_only(spark):
    from xyzpy_spark.pipeline.text import strip_html

    docs = read_table(spark, SF_DIR, "documents")
    df = strip_html(docs)
    assert not has_exchange(df)
    assert "Python" not in executed_plan(df)


def test_packing_stats_single_aggregation(spark):
    """One scan, one global aggregate — no per-doc shuffle beyond the
    final single-partition combine."""
    from xyzpy_spark.pipeline.packing import packing_stats

    docs = read_table(spark, SF_DIR, "documents")
    df = packing_stats(docs, max_tokens=64)
    assert count_exchanges(df) <= 1
    assert "Python" not in executed_plan(df)


def test_dsir_weights_broadcasts_ratio_table(spark):
    """The bucket log-ratio model must broadcast; the raw pool's only
    exchange is the per-doc aggregation."""
    from xyzpy_spark.pipeline.dsir import dsir_weights

    docs = read_table(spark, SF_DIR, "documents")
    target = docs.where(F.col("doc_id") % 10 == 0)
    raw = docs.where(F.col("doc_id") % 10 != 0)
    plan = executed_plan(dsir_weights(raw, target, n_buckets=64))
    assert "BroadcastHashJoin" in plan


def test_shipping_priority_broadcasts_dim_fact_single_shuffle(spark):
    """Q3 shape: the filtered customer dim joins as a broadcast and
    the fact side reaches the aggregation through at most one
    exchange."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["shipping_priority"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan  # top-10 never global-sorts


def test_local_supplier_volume_all_dims_broadcast(spark):
    """Q5 shape: four dimension tables broadcast; the only shuffle on
    the fact path is the per-nation aggregation (plus the one
    fact-fact join)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["local_supplier_volume"](spark, SF_DIR)
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4


def test_important_stock_broadcasts_nation_and_totals(spark):
    """Q11 shape on the derived partsupp bridge: the nation dim and
    the 1-row totals both broadcast (the threshold comparison must
    never shuffle the per-part values against a single-partition
    total), and the plan is JVM-only."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["important_stock"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan  # nation dim
    # the 1-row totals reach the filter as a broadcast nested loop,
    # never a shuffled cross
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_min_cost_supplier_broadcast_dims_takeordered(spark):
    """Q2 shape: region->nation dims broadcast, the correlated-MIN
    join back is an equi-join, and the top-100 is TakeOrdered, never
    a global sort."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["min_cost_supplier"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan


def test_nation_trade_volume_broadcasts_both_nation_dims(spark):
    """Q7 shape: both nation dims reach the fact path as broadcasts;
    no cartesian anywhere despite the direction-pair OR filter."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["nation_trade_volume"](spark, SF_DIR)
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_product_profit_bridge_join_no_python(spark):
    """Q9 shape: the 6-table join stays JVM-side, nation broadcasts,
    and the exact-e4 profit needs no float canon stage."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["product_profit"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_coverage_no_single_partition_window(spark):
    """The coverage curve must never globally rank the distinct-type
    table (round-4 verdict's one weak grade: an unpartitioned
    row_number window = a single-partition sort of 10^8-10^9 token
    types at web scale).  The counts-of-counts rewrite may keep
    single-partition exchanges only for one-row global aggregates —
    never feeding a Sort or Window."""
    from xyzpy_spark.pipeline.sampling import vocab_coverage

    docs = read_table(spark, SF_DIR, "documents")
    df = vocab_coverage(docs, vocab_sizes=(10, 100, 1000))
    plan = executed_plan(df)
    assert "row_number" not in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            # tree prints parents above children: the operator
            # consuming this exchange sits in the lines just above
            ctx = "\n".join(lines[max(0, i - 3):i])
            assert "Window" not in ctx and "Sort" not in ctx, plan
    # the within-bucket cumulative sums must still be windowed —
    # partitioned by bucket, hash-exchanged, never single-partition
    assert "Window" in plan


def test_rotation_discipline():
    """The driver gate hashes only the first 50 queries() entries, so
    registry growth accrues rotation debt.  Mechanize the bookkeeping
    (round-4 verdict ask #7): every query must either carry a
    first-driver-hashed round in ROTATION_HISTORY or sit in the
    documented ROTATION_QUEUE, queued queries must live outside the
    window (they are queued precisely because the window is full), and
    this round's window newcomers must be stamped with the current
    round number."""
    import __spark_entry__ as entrymod

    keys = list(entrymod.queries().keys())
    hist = entrymod.ROTATION_HISTORY
    queue = entrymod.ROTATION_QUEUE
    assert set(keys) == set(hist) | set(queue), (
        "query added without queue/window placement: "
        f"{sorted(set(keys) ^ (set(hist) | set(queue)))}"
    )
    assert not set(hist) & set(queue), sorted(set(hist) & set(queue))
    window = set(keys[:50])
    assert not window & set(queue), sorted(window & set(queue))
    newcomers = {
        k for k, r in hist.items() if r == entrymod.ROTATION_ROUND
    }
    assert newcomers <= window, sorted(newcomers - window)


def test_oracle_output_types_driver_safe():
    """Round-7 failure class, made a compile-time error (r7 verdict ask
    #2): the driver's value hash is TYPE-sensitive, so an oracle whose
    DuckDB output schema contains HUGEINT (uncast SUM(BIGINT)),
    unsigned ints, or DECIMAL hashes red even when values are
    bit-exact.  Audit every registered oracle's planned result types —
    binding only, no execution — and fail on any banned type, nested
    types included.  The same audit runs inside
    tools/check_correctness.py before any value comparison."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.check_correctness import audit_oracle_types

    con = duckdb.connect()
    for t in entrymod.TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    offenders = {}
    for name, sql in entrymod.oracle_sql().items():
        bad = audit_oracle_types(con, sql)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracles with driver-hash-unsafe output types (wrap in "
        f"CAST(... AS BIGINT/DOUBLE)): {offenders}"
    )
    # the audit itself must catch the r7 regression shape: an uncast
    # SUM over a BIGINT expression types HUGEINT and must be flagged
    seeded = audit_oracle_types(
        con, "SELECT SUM(CAST(l_quantity AS BIGINT)) AS s FROM lineitem"
    )
    assert seeded and "HUGEINT" in seeded[0][1], seeded


def test_winnow_index_probe_never_shuffle_joins(spark):
    """The winnowed incremental probe: every join broadcasts the
    batch-sized side (new fingerprints / sizes / dropped table) — the
    historical index must never hit a sort-merge join, so the probe
    stays flat in corpus size."""
    from xyzpy_spark.pipeline.dedup import (
        build_winnow_index,
        winnow_against_index,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    index, dropped = build_winnow_index(corpus, k=6, w=5, max_fp_freq=50)
    # materialized index, as production reads it from parquet
    index = index.persist()
    plan = executed_plan(
        winnow_against_index(
            batch, index, dropped=dropped, k=6, w=5, max_fp_freq=50,
            threshold=0.2,
        )
    )
    index.unpersist()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_fold_winnow_segments_no_index_aggregate(spark):
    """The incremental fold's scale property (r13): the consolidated
    index side enters the folded plan through broadcast anti/semi/
    outer joins ONLY — no sort-merge join and no aggregation keyed on
    the index's own rows except the broadcast-semi-filtered
    cap-crossing count (which is bounded by the delta's fingerprint
    footprint).  Concretely: every HashAggregate in the plan sits
    above either the delta scan or a broadcast-semi-filtered slice,
    never above the bare index scan — pinned by forbidding SMJ and
    requiring the n_fp adjustment's broadcast outer join."""
    import tempfile

    from xyzpy_spark.pipeline.dedup import (
        build_winnow_index,
        extend_winnow_index,
        fold_winnow_segments,
        load_winnow_index,
        read_committed_segments,
        save_winnow_index,
        winnow_against_index,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    p = tempfile.mkdtemp(prefix="xyzpy_plan_fold_") + "/widx"
    kw = dict(k=6, w=5, max_fp_freq=50, hash_fn="md5")
    idx, drp = build_winnow_index(docs.where(F.col("doc_id") % 10 < 5), **kw)
    save_winnow_index(idx, drp, p, fp_buckets=32)
    extend_winnow_index(docs.where(F.col("doc_id") % 10 == 5), p)
    idx0, drp0 = load_winnow_index(spark, p, before_seg=0)
    segs = read_committed_segments(spark, p)
    fidx, fdrp = fold_winnow_segments(idx0, drp0, segs)
    plan = executed_plan(
        winnow_against_index(
            docs.where(F.col("doc_id") % 10 == 9),
            fidx,
            dropped=fdrp,
            threshold=0.2,
            **kw,
        )
    )
    assert "SortMergeJoin" not in plan
    # the index never re-shuffles: its scan reaches the fold through
    # broadcast joins (anti for newly-dropped, outer for n_fp adj)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan and "LeftOuter" in plan
    # DPP survives the fold (the bucketed main keeps its partition
    # filter under the union)
    assert "dynamicpruning" in plan.lower()


def test_order_priority_check_semi_join_no_expand(spark):
    """Q4's EXISTS plans as a LEFT SEMI join — the fact side
    contributes at most one match per order (no row expansion), and
    the quarter filter pushes to the orders scan."""
    import __spark_entry__ as em

    plan = executed_plan(em.q_order_priority_check(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_waiting_suppliers_semi_anti_pair(spark):
    """Q21's correlated EXISTS + NOT EXISTS plan as one LEFT SEMI and
    one LEFT ANTI hash join (equi on orderkey, the different-supplier
    predicate as a join residual) — never a per-row nested-loop
    probe; the supplier/nation dims broadcast."""
    import __spark_entry__ as em

    plan = executed_plan(em.q_waiting_suppliers(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_idle_customers_anti_join_scan_prune(spark):
    """Q22's NOT EXISTS plans as a LEFT ANTI join and the 'recent'
    date bound pushes to the orders scan, so the anti side prunes
    before it shuffles."""
    import __spark_entry__ as em

    plan = executed_plan(em.q_idle_customers(spark, SF_DIR))
    assert "LeftAnti" in plan
    # the recent-orders date filter must reach the parquet reader
    assert "PushedFilters" in plan and "o_orderdate" in plan.split(
        "PushedFilters"
    )[1][:400]


def test_ivf_pq_residual_scan_codes_only(spark, tmp_path):
    """Residual IVF-PQ search: with a materialized (cell, codes)
    index the candidate scan must read only (id, cell, codes) — all
    residual arithmetic (centroid dot, cross terms, codeword norms)
    rides the probe side / plan literals; the embedding column
    reaches the plan only through the shortlist re-rank scan."""
    from xyzpy_spark.pipeline.similarity import ivf_pq_build, ivf_pq_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    coded, cents, cbs = ivf_pq_build(
        emb, n_cells=8, m=16, ksub=16, kmeans_iters=0
    )
    path = str(tmp_path / "ivfpq_codes")
    coded.write.parquet(path)
    stored = spark.read.parquet(path)
    q = ivf_pq_topk(
        stored, cents, cbs, emb.where(F.col("vec_id") < 3),
        k=5, nprobe=4, shortlist=10, residual=True,
    )
    plan = executed_plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    scans = plan.split("ReadSchema: ")[1:]
    code_scans = [
        s for s in scans
        if s.startswith("struct<") and "codes" in s.split("\n")[0]
        and "embedding" not in s.split("\n")[0]
    ]
    assert code_scans, f"no codes-only scan found:\n{plan}"


def test_dedup_saved_index_probe_partition_prunes(spark, tmp_path):
    """The save_dedup_index layout's point (r8 verdict ask #3 — the
    MinHash twin of the winnow layout below): a probe against the
    fp_bucket/bb_bucket-partitioned index must PRUNE the index scans
    to the batch's bucket values, on top of the no-shuffle-join
    property, and return EXACTLY what the unbucketed probe returns.
    r13: with cache=False the batch side is materialized (eager
    localCheckpoint — one signing pass instead of three), which bakes
    its selective filters into the RDD and stops the DPP rule from
    firing; the probe now pushes the batch's LITERAL bucket set as a
    static partition IN-filter instead — same pruning, resolved at
    planning time with no runtime subquery.  Lazy paths (cache=True)
    keep classic DPP; both shapes are accepted here."""
    from xyzpy_spark.pipeline.dedup import (
        band_dedup_index,
        build_dedup_index,
        dedup_against_index,
        load_dedup_index,
        save_dedup_index,
    )

    # cache isolation: an earlier test's persisted build_dedup_index
    # fragment would be substituted as an InMemoryRelation, which
    # blocks the DPP rule from extracting the pruning subquery (the
    # plan is then correct but unprunable — order-dependent flake)
    spark.catalog.clearCache()
    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    index = build_dedup_index(corpus, n=2, hash_fn="md5")
    bands = band_dedup_index(index, n=2, hash_fn="md5")
    p = str(tmp_path / "didx")
    save_dedup_index(index, bands, p, fp_buckets=32, bb_buckets=32)
    idx2, bnd2 = load_dedup_index(spark, p)
    probed = dedup_against_index(
        batch, idx2, index_bands=bnd2, n=2, threshold=0.4,
        hash_fn="md5", cache=False,
    )
    plan = executed_plan(probed)
    # both probe joins carry a partition column -> two pruning seams
    # (dynamic subqueries on lazy paths, literal INSET partition
    # filters on the materialized cache=False path)
    import re as _re

    pruned = len(
        _re.findall(
            r"PartitionFilters: \[[^\]]*(?:fp|bb)_bucket[^\]]*"
            r"(?:INSET|\bIN\b|dynamicpruning)",
            plan,
            _re.IGNORECASE,
        )
    )
    assert pruned >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan
    want = sorted(
        map(tuple, dedup_against_index(
            batch, index, n=2, threshold=0.4, hash_fn="md5",
            cache=False,
        ).collect())
    )
    assert sorted(map(tuple, probed.collect())) == want


def test_winnow_saved_index_probe_partition_prunes(spark, tmp_path):
    """The save_winnow_index layout's point: a probe against the
    fp_bucket-partitioned index must plan DYNAMIC PARTITION PRUNING
    on the index scan (the batch's bucket values prune which
    partitions are read), on top of the existing no-shuffle-join
    property."""
    from xyzpy_spark.pipeline.dedup import (
        build_winnow_index,
        load_winnow_index,
        save_winnow_index,
        winnow_against_index,
    )

    # same cache isolation as the MinHash DPP test above: a cached
    # fragment substitution would block the pruning-subquery rule
    spark.catalog.clearCache()
    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0).limit(5)
    index, dropped = build_winnow_index(
        corpus, k=6, w=5, max_fp_freq=50, hash_fn="md5"
    )
    p = str(tmp_path / "widx")
    save_winnow_index(index, dropped, p, fp_buckets=32)
    idx2, drp2 = load_winnow_index(spark, p)
    plan = executed_plan(
        winnow_against_index(
            batch, idx2, dropped=drp2, k=6, w=5, max_fp_freq=50,
            threshold=0.2, hash_fn="md5",
        )
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "SortMergeJoin" not in plan


def test_winnow_prebuilt_probe_literal_bucket_prune(spark, tmp_path):
    """r13: the ingest sinks winnow each epoch's batch ONCE and pass
    the materialized selection as ``prebuilt_fps`` — which bakes the
    batch's filters into an RDD and defeats the DPP rule.  The probe
    must then prune the bucketed index scan with the batch's LITERAL
    bucket set (a static partition IN-filter), so the 100-TB scan
    posture survives the sign-once optimization."""
    from xyzpy_spark.pipeline.dedup import (
        build_winnow_index,
        load_winnow_index,
        save_winnow_index,
        winnow_against_index,
        winnow_fingerprints,
    )

    spark.catalog.clearCache()
    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0).limit(5)
    index, dropped = build_winnow_index(
        corpus, k=6, w=5, max_fp_freq=50, hash_fn="md5"
    )
    p = str(tmp_path / "widx")
    save_winnow_index(index, dropped, p, fp_buckets=32)
    idx2, drp2 = load_winnow_index(spark, p)
    fps = winnow_fingerprints(
        batch, k=6, w=5, hash_fn="md5"
    ).localCheckpoint(eager=True)
    probed = winnow_against_index(
        batch, idx2, dropped=drp2, k=6, w=5, max_fp_freq=50,
        threshold=0.2, hash_fn="md5", prebuilt_fps=fps,
    )
    plan = executed_plan(probed)
    import re as _re

    assert _re.search(
        r"PartitionFilters: \[[^\]]*fp_bucket[^\]]*(?:INSET|\bIN\b)",
        plan,
    ), plan[:2000]
    assert "SortMergeJoin" not in plan
    # the prebuilt path returns exactly what the self-winnowing
    # probe returns
    want = sorted(
        map(tuple, winnow_against_index(
            batch, idx2, dropped=drp2, k=6, w=5, max_fp_freq=50,
            threshold=0.2, hash_fn="md5",
        ).collect())
    )
    assert sorted(map(tuple, probed.collect())) == want


def test_lm_pipeline_e2e_no_stage_recomputation(spark):
    """The composed pipeline gate (r9 verdict ask #4) must run each
    stage once: dedup_against consumes its input twice (shingle
    build + survivor anti-join), so without the localCheckpoint seam
    the 5-stage curation subtree would appear — and execute — twice.
    The checkpoint cuts the lineage: the final plan reads the
    curated set as an in-memory RDD scan and contains ZERO curation
    operators (no ntile window, at most the dedup/chunk/pack
    scans of `documents` for the reference side)."""
    import __spark_entry__ as entrymod

    q = entrymod.q_lm_pipeline_e2e(spark, SF_DIR)
    plan = executed_plan(q)
    # the curation result enters as a checkpointed RDD scan...
    assert "ExistingRDD" in plan, plan[:2000]
    # ...and none of the curation-only operators survive in the final
    # plan (ntile = the CCNet bucket window; it would appear — twice —
    # if the curation lineage were still attached)
    assert "ntile" not in plan.lower(), plan[:2000]
    # reference-side scans remain: ref shingles for the cross-corpus
    # dedup.  The df-side consumers read the checkpoint, so the
    # documents table is scanned a BOUNDED number of times (ref side
    # only), not once per downstream stage.
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")


def test_corpus_drift_topk_never_global_sorts(spark):
    """Snapshot-drift monitoring (pipeline/drift.corpus_divergence):
    the vocab-sized contribution table must reach the top-k through
    TakeOrdered — a global Sort of a 10^8-token vocabulary is the
    failure mode — and no vocab-sized single-partition exchange may
    feed a Sort or Window.  Both text scans must prune to the two
    needed columns."""
    from xyzpy_spark.pipeline.drift import corpus_divergence

    docs = read_table(spark, SF_DIR, "documents")
    # localize=False leaves the vocab full-outer join persisted by
    # documented contract (the caller owns releasing it) — release it
    # after plan inspection so this test doesn't leak a cached table
    # into the shared session
    try:
        df = corpus_divergence(
            docs.where(F.col("lang") == "en"),
            docs.where(F.col("lang") == "de"),
            top_k=20,
            localize=False,  # keep the lazy plan for inspection
        )
        plan = executed_plan(df)
        assert "TakeOrdered" in plan, plan
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln:
                ctx = "\n".join(lines[max(0, i - 3):i])
                assert "Window" not in ctx and "Sort" not in ctx, plan
        cols = scan_columns(df)
        assert cols and set(cols) <= {"text", "lang"}, cols
    finally:
        spark.catalog.clearCache()


def test_numeric_distribution_multi_one_scan(spark):
    """The multi-column feature monitor's whole point (r10 verdict ask
    #4): k monitored columns must cost ONE scan per side, not k.  The
    count-table plan must contain exactly one parquet scan reading
    only the monitored columns, and stay pure codegen (no Python)."""
    from xyzpy_spark.pipeline.drift import numeric_distribution_multi

    ev = read_table(spark, SF_DIR, "events")
    d = numeric_distribution_multi(
        ev, {"value": (0.0, 512.0), "user_id": (0.0, 256.0)}, n_bins=64
    )
    plan = executed_plan(d)
    assert plan.count("Scan parquet") == 1, plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan, plan
    cols = scan_columns(d)
    assert cols and set(cols) <= {"value", "user_id"}, cols


def test_dedup_clusters_plan_stays_bounded(spark):
    """r14: label propagation seams every round, so the returned
    labels' plan is constant-size — the old every-5 cadence let the
    3-reference round body grow the tree ~3^k between seams (831
    InMemoryRelation nodes in the gate plan at sf0.001)."""
    from xyzpy_spark.pipeline.dedup import dedup_clusters

    # a 12-link chain needs several shortcut rounds to converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    out = dedup_clusters(pairs)
    rows = {(r["doc_id"], r["cluster_id"]) for r in out.collect()}
    assert rows == {(i, 0) for i in range(13)}
    plan = executed_plan(out)
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert len(plan) < 20_000, len(plan)


@contextlib.contextmanager
def _py4j_round_trips(spark):
    """Count driver->JVM py4j round trips made inside the block, by
    wrapping the gateway client's ``send_command`` (py4j's asynchronous
    proxy releases, ``m\\n`` commands from its finalizer, excluded)."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    count = [0]

    def send_command(command, *a, **kw):
        if not command.startswith("m\n"):
            count[0] += 1
        return orig(command, *a, **kw)

    client.send_command = send_command
    try:
        yield count
    finally:
        del client.send_command


def test_sweep_builders_constant_py4j_round_trips(spark):
    """The sweep lifecycle's plan builders render SQL fragments, so
    their driver cost does not grow with coordinate values or
    variables: a 1000-value axis, or a 20-variable merge, costs a few
    dozen py4j round trips (the per-value / per-variable Column
    builders cost ~21 per value and ~370 per variable)."""
    from xyzpy_spark.merge import count_conflicts, merge_datasets
    from xyzpy_spark.missing import non_null_points

    with _py4j_round_trips(spark) as n:
        combo_grid(spark, {"x": [i * 0.5 for i in range(1000)]})
    assert n[0] < 100, n[0]
    with _py4j_round_trips(spark) as n:
        combo_grid(spark, {"s": [f"v{i}'`" for i in range(1000)],
                           "i": list(range(1000))})
    assert n[0] < 100, n[0]

    vs = [f"v{i}" for i in range(20)]
    old = spark.range(4).selectExpr("id AS a", *[f"id * 0.5 AS {v}" for v in vs])
    new = spark.range(2, 6).selectExpr("id AS a", *[f"id * 0.5 AS {v}" for v in vs])
    for ow in (None, True, False):
        with _py4j_round_trips(spark) as n:
            merge_datasets(old, new, ["a"], overwrite=ow)
        assert n[0] < 100, (ow, n[0])
    with _py4j_round_trips(spark) as n:
        count_conflicts(old, new, ["a"])
    assert n[0] < 100, n[0]
    with _py4j_round_trips(spark) as n:
        non_null_points(old, ["a"], vs)
    assert n[0] < 100, n[0]


def test_harvester_topup_store_scan_literal_partition_filters(
    spark, tmp_path, monkeypatch
):
    """A partitioned Harvester top-up reads the store through the
    touched-coordinate predicate, now one SQL fragment: the scan must
    still carry LITERAL PartitionFilters on the partition dims (the
    O(touched) top-up), for one and for two partition dims."""
    import re as _re

    from conftest import foo2_scalar
    from xyzpy_spark import farming
    from xyzpy_spark.farming import Harvester, Runner

    seen = []
    real = farming.merge_datasets

    def spy(old, new, dims, **kw):
        seen.append(old)
        return real(old, new, dims, **kw)

    monkeypatch.setattr(farming, "merge_datasets", spy)
    r = Runner(foo2_scalar, var_names=["s"], spark=spark)
    for pby in ("a", ["a", "b"]):
        seen.clear()
        h = Harvester(r, str(tmp_path / f"p{len(pby)}.parquet"),
                      partition_by=pby)
        h.harvest_combos({"a": [1, 2], "b": [10, 20]})
        h.harvest_combos({"a": [1, 2, 3], "b": [10, 20, 30]},
                         missing_only=True)
        assert len(seen) == 1
        plan = executed_plan(seen[0])
        pf = _re.search(r"PartitionFilters: \[([^\]]*)", plan)
        assert pf, plan[:3000]
        for d in pby:
            assert _re.search(rf"\({d}#\d+L? = \d+\)", pf.group(1)), plan
        assert h.full_df.count() == 9
