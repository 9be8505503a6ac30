"""Physical-plan property tests: the 100 TB posture checks. A query that
passes correctness but shuffles where it should broadcast, or scans columns
it doesn't need, fails HERE."""

from __future__ import annotations

from quiver_spark import plans
from quiver_spark import sources
from quiver_spark.registry import load_all_operators

from conftest import SF_DIR

SPECS = load_all_operators()


def _df(spark, name):
    return SPECS[name].spark(spark, SF_DIR)


def test_dimension_joins_broadcast(spark):
    """q3/q5/q10: every dimension side broadcasts — the only Exchange left
    is the fact-fact join + final agg."""
    for name in ["q3_shipping_priority", "q5_region_revenue", "q10_returned_items"]:
        df = _df(spark, name)
        assert plans.has_broadcast_join(df), f"{name}: no broadcast join in plan"


def test_q6_filters_pushed_to_scan(spark):
    df = _df(spark, "q6_forecast_revenue")
    pushed = plans.pushed_filters(df)
    assert "l_shipdate" in pushed and "l_quantity" in pushed, pushed


def test_q6_scan_prunes_columns(spark):
    """Q6 needs 4 lineitem columns; the parquet ReadSchema must not include
    the rest (no l_orderkey, no l_comment-style wide reads)."""
    schema = plans.read_schema(_df(spark, "q6_forecast_revenue"))
    for col in ["l_shipdate", "l_discount", "l_quantity", "l_extendedprice"]:
        assert col in schema, schema
    for col in ["l_orderkey", "l_returnflag", "l_tax"]:
        assert col not in schema, schema


def test_q1_single_shuffle(spark):
    """Q1 is one hash aggregate: exactly one exchange (partial→final agg)."""
    df = _df(spark, "q1_pricing_summary")
    assert plans.count_shuffles(df) <= 1, plans.physical_plan(df)


def test_scalar_batteries_stay_codegen(spark):
    """Row-level function batteries must compile to whole-stage codegen
    (no Python evaluation in the hot path)."""
    for name in ["scalar_string_funcs", "scalar_math_funcs", "scalar_date_funcs"]:
        df = _df(spark, name)
        plan = plans.physical_plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert plans.codegen_stage_count(df) >= 1, name


def test_semi_anti_join_shapes(spark):
    for name, kind in [
        ("semi_join_customers", "LeftSemi"),
        ("anti_join_customers", "LeftAnti"),
    ]:
        plan = plans.physical_plan(_df(spark, name))
        assert kind in plan, f"{name}: expected {kind} in\n{plan}"


def test_topk_uses_take_ordered(spark):
    plan = plans.physical_plan(_df(spark, "topk_orders"))
    assert "TakeOrderedAndProject" in plan, plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located join via bucketing: two tables bucketed on the join key
    join WITHOUT a shuffle on either side — the 100 TB pattern for repeated
    fact-fact joins (bucket pruning + storage-partitioned join)."""
    from pyspark.sql import functions as F

    from quiver_spark.tables import load

    wh = str(tmp_path / "wh")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    (
        li.write.format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", f"{wh}/li_b").mode("overwrite")
        .saveAsTable("li_bucketed")
    )
    (
        o.write.format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", f"{wh}/o_b").mode("overwrite")
        .saveAsTable("o_bucketed")
    )
    try:
        a = spark.table("li_bucketed")
        b = spark.table("o_bucketed")
        joined = a.join(b, a.l_orderkey == b.o_orderkey).groupBy().agg(
            F.count(F.lit(1)).alias("cnt")
        )
        plan = plans.physical_plan(joined)
        # the join itself must not shuffle either bucketed side: the only
        # allowed exchange is the final single-partition aggregate
        join_part = plan.split("HashAggregate")[-1]
        assert "Exchange hashpartitioning" not in join_part, plan
        # and the result matches the unbucketed join
        got = joined.collect()[0].cnt
        want = (
            li.join(o, li.l_orderkey == o.o_orderkey).count()
        )
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_salted_skew_join_matches_plain(spark):
    """Key-salting recipe for skewed joins: explode the small side over
    SALT replicas, salt the fact side randomly-but-deterministically, join
    on (key, salt) — same rows as the plain join, but a hot key now spreads
    over SALT partitions. (AQE skew-join handles this at runtime; salting
    is the plan-level tool when a key is pathologically hot.)"""
    from pyspark.sql import functions as F

    from quiver_spark.tables import load

    SALT = 4
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")

    salted_fact = li.withColumn(
        "_salt", (F.crc32(F.col("l_orderkey").cast("string")) % SALT).cast("int")
    )
    salted_dim = o.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)]))
    )
    got = salted_fact.join(
        salted_dim,
        (salted_fact.l_orderkey == salted_dim.o_orderkey)
        & (salted_fact._salt == salted_dim._salt),
    ).count()
    want = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert got == want


def test_ivf_assignment_is_map_side(spark):
    """ann_ivf_topk (round-16 shape): coarse assignment, probed-list
    masking and scoring run inside ONE MapInArrow node over the corpus
    scan (centroids/probe lists are driver tables on a broadcast
    variable, not join sides) — the corpus never shuffles for indexing
    or scoring; the only exchange is the tiny candidate window."""
    df = _df(spark, "ann_ivf_topk")
    plan = plans.physical_plan(df)
    assert "MapInArrow" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_decontamination_broadcasts_eval_side(spark):
    """decontaminate_eval_overlap: the eval shingle table must broadcast —
    the train corpus is processed map-side with no corpus-sized shuffle
    for candidate generation (the property that scales to pretraining
    corpora)."""
    df = _df(spark, "decontaminate_eval_overlap")
    assert plans.has_broadcast_join(df), "decontamination lost its broadcast"


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Runtime bloom-filter join pruning: when a selective filter sits on
    one side of a shuffle join, Spark builds a bloom filter from that side
    and applies it to the other side's scan — rows that cannot match never
    enter the shuffle. The default thresholds (10 GB application-side scan)
    only suppress it at toy scale, so this test lowers them to observe the
    exact plan a 100 TB fact-fact join gets for free."""
    from pyspark.sql import functions as F

    from quiver_spark.tables import load

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, SF_DIR, "lineitem")
        o = load(spark, SF_DIR, "orders").filter(F.col("o_totalprice") > 400000)
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy().count()
        assert "bloom_filter_agg" in plans.physical_plan(j), plans.physical_plan(j)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_strategy_hints_respected(spark):
    """Join-strategy hints are the per-query override when the optimizer's
    default is wrong at scale: merge → SortMergeJoin, shuffle_hash →
    ShuffledHashJoin (build-side memory bound), broadcast → no shuffle."""
    from quiver_spark.tables import load

    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    merged = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in plans.physical_plan(merged)
    hashed = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in plans.physical_plan(hashed)
    bcast = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
    assert "BroadcastHashJoin" in plans.physical_plan(bcast)


def test_sq8_probes_broadcast(spark):
    """ann_sq8_topk: the probe set must broadcast — the quantized corpus
    never shuffles for candidate generation."""
    df = _df(spark, "ann_sq8_topk")
    assert plans.has_broadcast_join(df), plans.physical_plan(df)


def test_chunk_dedup_single_shuffle_before_topk(spark):
    """dedup_chunk_exact: chunking is map-side; the only pre-top-k exchange
    is the count aggregate on the chunk hash, and the top-k itself is
    TakeOrderedAndProject (no global sort materialization)."""
    df = _df(spark, "dedup_chunk_exact")
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plans.count_shuffles(df) <= 2, plan  # partial->final agg only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_mix_broadcasts_rates(spark):
    """sample_temperature_mix: the per-language rate table (tiny) joins
    back by broadcast — the corpus side never shuffles."""
    df = _df(spark, "sample_temperature_mix")
    assert plans.has_broadcast_join(df), plans.physical_plan(df)


def test_interval_join_uses_equi_key(spark):
    """events_interval_join: the user_id equi key must drive the join (hash
    or sort-merge) — the time bound is a post-condition, NOT a nested-loop
    cross product."""
    df = _df(spark, "events_interval_join")
    plan = plans.physical_plan(df)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan
    assert "NestedLoop" not in plan, plan


def test_histogram_sketch_broadcasts_stats(spark):
    """sketch_histogram_quantiles: the (min,max,n) stats row joins back by
    broadcast; no Python evaluation anywhere in the plan."""
    df = _df(spark, "sketch_histogram_quantiles")
    plan = plans.physical_plan(df)
    assert plans.has_broadcast_join(df), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sq8_recall_against_exact(spark):
    """Quantization quality, not just determinism: int8 ADC top-10 must
    substantially agree with the exact-dot top-10 per probe (synthetic
    embeddings are unit vectors; 8-bit codes keep ranking nearly intact).
    Deterministic data -> deterministic overlap, so the bound is stable."""
    exact = _df(spark, "ann_dot_topk").collect()
    sq8 = _df(spark, "ann_sq8_topk").collect()
    from collections import defaultdict

    e, s = defaultdict(set), defaultdict(set)
    for r in exact:
        e[r.qid].add(r.vec_id)
    for r in sq8:
        s[r.qid].add(r.vec_id)
    assert set(e) == set(s)
    overlaps = [len(e[q] & s[q]) for q in e]
    assert sum(overlaps) / len(overlaps) >= 8.0, overlaps  # avg >= 8/10
    assert min(overlaps) >= 6, overlaps


def test_pack_sequences_single_shard_shuffle(spark):
    """pipeline_pack_sequences: the running token offset is computed per
    md5 shard, so the plan needs exactly ONE shuffle (on the uniform
    64-way shard key) feeding both the window and the final per-shard
    aggregate — a global ordered prefix sum would be a single-partition
    bottleneck and must never appear. All-JVM expressions."""
    df = _df(spark, "pipeline_pack_sequences")
    plan = plans.physical_plan(df)
    assert plans.count_shuffles(df) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_context_windows_map_side_explode(spark):
    """text_context_windows: chunking is a pure map + explode — the only
    shuffle is the final per-doc aggregate, and the explode happens before
    it (window generation never shuffles the corpus)."""
    df = _df(spark, "text_context_windows")
    plan = plans.physical_plan(df)
    assert plans.count_shuffles(df) <= 1, plan
    assert "Generate explode" in plan or "Generate" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_budget_windows_stay_bucket_partitioned(spark):
    """sample_token_budget: the only unpartitioned ordered window runs over
    the <=64-row bucket histogram; every corpus-level window is partitioned
    by bucket, the bucket stats broadcast back to the docs, and no Python
    evaluation appears anywhere."""
    df = _df(spark, "sample_token_budget")
    plan = plans.physical_plan(df)
    assert plans.has_broadcast_join(df), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_scrub_map_side_single_shuffle(spark):
    """text_pii_scrub: detection + redaction are JVM regexp expressions
    (no Python eval), so the only exchange is the partial→final source
    aggregate."""
    df = _df(spark, "text_pii_scrub")
    plan = plans.physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plans.count_shuffles(df) <= 1, plan


def test_blocklist_filter_map_side_single_shuffle(spark):
    """text_blocklist_filter: the literal-array blocklist matches inside
    a higher-order filter (no explode, no UDF); one aggregate shuffle."""
    df = _df(spark, "text_blocklist_filter")
    plan = plans.physical_plan(df)
    assert "Explode" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plans.count_shuffles(df) <= 1, plan


def test_broadcast_hint_is_size_gated(spark, monkeypatch):
    """Linearly-scaling join sides (customer/supplier/part class) carry a
    SIZE-GATED hint: under the ceiling the hint fires (plan broadcasts);
    above it the relation goes unhinted and the join degrades to shuffle,
    which AQE re-plans from runtime sizes. A forced broadcast of a TB-scale
    side is a hard executor OOM at 100 TB — the hint must never outrank the
    plan-time size estimate."""
    from pyspark.sql import functions as F

    from quiver_spark.tables import load, maybe_broadcast, plan_size_bytes

    o = load(spark, SF_DIR, "orders")
    c = load(spark, SF_DIR, "customer")
    assert (plan_size_bytes(c) or 0) > 0  # parquet scans report real sizes

    # bench posture: customer is tiny, the gate hints, the plan broadcasts
    j = o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
    assert plans.has_broadcast_join(j)

    # 100 TB posture (simulated): ceiling below customer's footprint and
    # Spark's own auto-broadcast off so only an explicit hint COULD
    # broadcast — the gate must emit none
    from quiver_spark import tables

    monkeypatch.setattr(tables, "BROADCAST_MAX_BYTES", 1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j2 = o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        plan = plans.physical_plan(j2)
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan

        # recipe-level: q3's only dimension side is customer — gated out,
        # the whole plan has no broadcast join
        q3 = _df(spark, "q3_shipping_priority")
        assert "BroadcastHashJoin" not in plans.physical_plan(q3)

        # constant-cardinality dims keep the unconditional hint: q5 still
        # broadcasts nation + region while customer/supplier degrade
        q5 = _df(spark, "q5_region_revenue")
        p5 = plans.physical_plan(q5)
        assert p5.count("BroadcastHashJoin") >= 2, p5  # nation, region
        assert "SortMergeJoin" in p5 or "ShuffledHashJoin" in p5, p5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_quiver_gate_size_served_from_manifest(spark, tmp_path):
    """The broadcast gate's quiver-table size reads the commit-time
    manifest (ONE directory-level read — no per-file stat/HEAD storm at
    100k files) and matches the stat-summed truth; manifest-less dirs
    fall back to stat."""
    import glob
    import os

    from quiver_spark.operators.format_queries import quiver_dir_size_bytes
    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "gate_tbl")
    sources.write(
        spark.range(20000)
        .selectExpr("id", "concat('x', id) s")
        .repartition(4),
        out,
    )
    truth = sum(
        os.path.getsize(f)
        for f in glob.glob(out + "/**/*.quiver", recursive=True)
    )
    assert quiver_dir_size_bytes(out) == truth

    # bare library-written dir (no manifest): stat fallback
    import pyarrow as pa

    from quiver_spark.format.writer import write_table

    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    write_table(pa.table({"a": list(range(50))}), bare + "/f.quiver")
    assert quiver_dir_size_bytes(bare) == os.path.getsize(bare + "/f.quiver")


def test_analyze_stats_feed_broadcast_gate(spark, tmp_path):
    """ANALYZE statistics drive the broadcast gate (VERDICT r10 item 6):
    the gate sizes a quiver relation by its estimated DECODED footprint —
    row_count x per-column widths from the manifest's table_stats — never
    by compressed disk bytes alone. A table whose ANALYZE row count is
    huge must NOT be hinted even when its directory is tiny, and absent
    stats the disk size is scaled by the decode ratio instead of trusted
    raw."""
    import os

    from quiver_spark import maintenance
    from quiver_spark.sources import register
    from quiver_spark.sources.manifest import metadata_commit
    from quiver_spark.sources.quiver_datasource import _data_root
    from quiver_spark.tables import (
        BROADCAST_MAX_BYTES,
        QUIVER_DECODE_RATIO,
        quiver_gate_size_bytes,
    )

    register(spark)
    d = str(tmp_path / "analyzed")
    sources.write(
        spark.range(5000).selectExpr("id", "concat('v', id) AS s"),
        d,
    )

    # no stats: disk bytes are scaled, never trusted raw
    no_stats = quiver_gate_size_bytes(d)
    from quiver_spark.operators.format_queries import quiver_dir_size_bytes

    disk = quiver_dir_size_bytes(d)
    assert no_stats == disk * QUIVER_DECODE_RATIO

    # fresh ANALYZE: decoded estimate (rows x widths), floored at disk
    maintenance.analyze_table(spark, d)
    est = quiver_gate_size_bytes(d)
    assert est >= disk
    assert est < BROADCAST_MAX_BYTES  # 5000 rows: genuinely broadcastable

    # a huge row count (as if the dir were one shard of a 100 TB table)
    # must push the gate over the ceiling despite the tiny directory
    def mutate(raw):
        raw["table_stats"]["row_count"] = 20_000_000_000

    metadata_commit(_data_root(d), mutate)
    big = quiver_gate_size_bytes(d)
    assert big is not None and big > BROADCAST_MAX_BYTES


def test_char_lm_score_vectorized_plan(spark):
    """text_char_lm_score (round-16 shape): the scoring pass is a
    MapInArrow node straight over the normalized corpus scan — no
    per-bigram row explosion (zero Generates), no model joins (the
    driver-folded surprisal table ships as a broadcast VARIABLE, not a
    join side), and the only exchange is the per-source aggregate. The
    model-fit pass runs as its own job at construction; the round-11
    4x-explode defect class is structurally impossible here."""
    df = _df(spark, "text_char_lm_score")
    plan = plans.physical_plan(df)
    assert "MapInArrow" in plan, plan
    assert plan.count("Generate") == 0, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_char_lm_codes_helpers_exact():
    """_codes_lens/_bigram_keys: the ASCII zero-copy path and the
    UTF-32 fallback must produce identical code-point sequences — pinned
    against a pure-Python reference over mixed ASCII / multi-byte /
    astral-plane rows (code points, not UTF-16 units)."""
    import numpy as np
    import pyarrow as pa

    from quiver_spark.operators.pipeline7 import _bigram_keys, _codes_lens

    def ref(texts):
        codes = [[ord(c) for c in t] for t in texts]
        keys = []
        for cs in codes:
            keys += [(a << 21) | b for a, b in zip(cs, cs[1:])]
        return [c for cs in codes for c in cs], [len(cs) for cs in codes], keys

    for texts in [
        ["ab", "hello world", "xy"],
        ["héllo", "\U0001f600ab", "naïve café"],
        ["ab"],
        ["ascii only", "line two", "z" * 300],
    ]:
        arr = pa.array(texts, type=pa.string())
        codes, lens = _codes_lens(arr)
        rc, rl, rk = ref(texts)
        assert codes.tolist() == rc, texts
        assert lens.tolist() == rl, texts
        assert _bigram_keys(codes, lens).tolist() == rk, texts
    # sliced arrays (non-zero arr.offset) hit the same buffers
    arr = pa.array(["aa", "bb", "cc", "dd"]).slice(1, 2)
    codes, lens = _codes_lens(arr)
    assert codes.tolist() == [ord("b")] * 2 + [ord("c")] * 2
    assert lens.tolist() == [2, 2]


def test_embedding_decontamination_map_side_single_shuffle(spark):
    """decontaminate_embedding_overlap (round-16 shape): the eval set is
    driver-collected and ships by broadcast VARIABLE into one MapInArrow
    node over the corpus scan (numpy matmul + row-max per batch) — the
    only exchange left is the per-label aggregate. No joins at all."""
    df = _df(spark, "decontaminate_embedding_overlap")
    plan = plans.physical_plan(df)
    assert "MapInArrow" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kl_divergence_single_corpus_explode(spark):
    """text_source_kl_divergence: five consumers derive from the
    (source, token) counts; without the lazy localCheckpoint each re-ran
    the corpus explode+count (round-13 plan audit: 5 Generates). The pin:
    the final plan shows ZERO Generates (the one corpus explode sits
    behind the checkpoint's Scan-ExistingRDD boundary) and no Python
    eval; downstream joins go through broadcasts."""
    df = _df(spark, "text_source_kl_divergence")
    plan = plans.physical_plan(df)
    assert plan.count("Generate explode") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gopher_filter_single_pass_no_explode(spark):
    """text_gopher_quality_filter: all five rules (including the
    most-frequent-word count, via the sorted-array run-length fold) are
    array expressions — the plan must show ZERO Generates and exactly ONE
    exchange (the <=|sources|-row verdict aggregate). The corpus text
    never shuffles."""
    df = _df(spark, "text_gopher_quality_filter")
    plan = plans.physical_plan(df)
    assert plan.count("Generate") == 0, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_assignment_is_map_side(spark):
    """embedding_kmeans_clusters: the corpus must NEVER shuffle to be
    assigned. Round 16 shape (_np_assign, optimization guide §4.2): the
    final-round assignment is a MapInArrow node directly over the corpus
    scan (numpy matmul per batch; centroids driver-collected per Lloyd
    round, the MLlib pattern — earlier rounds run inside their own jobs
    and never appear in this plan), so the ONLY hash exchange left is
    the final per-cluster stats aggregate; no window over vec_id, no
    joins at all.

    Round 14 (VERDICT r13 #1) still holds: the update step posexplodes
    off the assignment itself — NO join between corpus-scale relations
    in any round's job."""
    df = _df(spark, "embedding_kmeans_clusters")
    plan = plans.physical_plan(df)
    assert "MapInArrow" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_pq_encode_is_map_side(spark):
    """ann_pq_topk (round-16 shape): encode + ADC scoring + per-batch
    top-k run inside ONE MapInArrow node over the corpus scan (codebook
    and ADC tables are driver-built and ship as a broadcast variable,
    not a join side). The only hash exchange left is the tiny candidate
    window's partitioning; no joins, no corpus-scale score aggregate."""
    df = _df(spark, "ann_pq_topk")
    plan = plans.physical_plan(df)
    assert "MapInArrow" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_pq_trained_no_corpus_scale_joins(spark):
    """ann_pq_trained_topk (round-16 shape): training rounds run in
    their own jobs (vectorized partial-sum passes + driver codebook
    fold); the final plan is ONE checkpointed corpus pass emitting
    per-batch PQ and exact candidates, read twice (Scan ExistingRDD)
    by the two tiny top-k windows, joined by broadcast for the recall
    count. Nothing sort-merges or shuffle-hash-joins; no corpus-scale
    relation sits on any join side."""
    df = _df(spark, "ann_pq_trained_topk")
    plan = plans.physical_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "Window" in plan  # the top-k rankings


def test_epoch_shuffle_range_rank_bounded_reducers(spark):
    """pipeline_epoch_shuffle_plan (round 15, VERDICT r14 Next #6): the
    global rank is a RANGE repartition + per-partition consecutive-id
    reconstruction, not a Window over (epoch, shard) — so no reducer
    sorts more than corpus/shuffle-partitions rows (the window plan
    capped parallelism at EPOCHS×SHARDS tasks). The pin: the ranked
    corpus reads from the lazy checkpoint (Scan ExistingRDD — the range
    exchange + sort live inside it), the ONLY Window left is the tiny
    per-(epoch, shard, pid) offset rollup on the broadcast side, the
    offset join is a BroadcastHashJoin, and the hierarchical digest keeps
    its two collect_list levels (chunk rows ≤ EPOCH_CHUNK positions).
    Exchanges: (e,s,chunk) corpus + (e,s) chunk-grain + the two tiny
    offset-side ones = 4 hash exchanges."""
    df = _df(spark, "pipeline_epoch_shuffle_plan")
    plan = plans.physical_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 4, plan
    assert plan.count("Window") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("collect_list") >= 4, plan  # 2 levels × partial/final


def test_dsir_single_shuffle_map_side_scoring(spark):
    """sample_dsir_weights: the 128-bucket model is the only corpus
    shuffle feeding the checkpoint; scoring folds each document's token
    array over the broadcast log-ratio MAP — no second corpus exchange,
    no join, no window, no Python eval."""
    df = _df(spark, "sample_dsir_weights")
    plan = plans.physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_pq_broadcast_only_joins(spark):
    """ann_ivf_pq_topk (round-16 shape): coarse assignment, residuals,
    PQ encoding, probed-list masking and ADC scoring all run inside ONE
    MapInArrow node over the corpus scan (codebooks/probes/base/ADC are
    driver tables on a broadcast variable); no joins at all, the only
    exchange is the tiny candidate window."""
    df = _df(spark, "ann_ivf_pq_topk")
    plan = plans.physical_plan(df)
    assert "MapInArrow" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_pca_top2_deflation_plan(spark):
    """embedding_pca_top2_deflation: same discipline as the top-1 pin —
    checkpoint boundaries serve the 64-row intermediates (no cross-round
    corpus recompute), X·v stays a map-side fold, and nothing windows or
    drops into Python."""
    df = _df(spark, "embedding_pca_top2_deflation")
    plan = plans.physical_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _plan_no_autobroadcast(spark, name):
    """Physical plan with size-estimate broadcasts disabled: at gate SF
    the corpus-side estimates sit near the 10 MiB auto threshold, so the
    planner may legitimately broadcast what would sort-merge at scale.
    With the threshold off, every broadcast left in the plan is
    HINT-driven (the designed tiny broadcasts) and corpus-scale joins
    surface with their true 100 TB shape."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return plans.physical_plan(_df(spark, name))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_semdedup_single_blocking_join(spark):
    """dedup_semantic_semdedup: cluster assignment is the map-side
    broadcast fold (vectors+norms carried through — no corpus re-join);
    the pair stage is ONE exchange on the (cid, subk) blocking key into
    the streamed in-bucket scorer (round 17: no corpus-scale join at
    all — the old self-join shuffled the payload twice); sizes
    broadcast by hint; the report is a union-aggregate, not a join."""
    plan = _plan_no_autobroadcast(spark, "dedup_semantic_semdedup")
    assert plan.count("SortMergeJoin") == 0, plan
    assert "MapInArrow" in plan, plan  # the in-bucket pair scorer
    assert "hashpartitioning(cid" in plan, plan  # the one blocking shuffle
    assert "BroadcastExchange" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_build_single_scan_per_side(spark):
    """sketch_bloom_membership: the 4 hash positions explode from ONE
    array, so the build side scans orders once and the probe side scans
    customer once (a per-hash-row union would rescan per row)."""
    df = _df(spark, "sketch_bloom_membership")
    plan = plans.physical_plan(df)
    assert plan.count("Scan parquet") <= 3, plan
    assert "BroadcastExchange" in plan, plan


def test_round_half_up_matches_spark(spark):
    """_round_half_up is the driver-side replica of Spark's ROUND(double)
    (RoundBase: HALF_UP over BigDecimal.valueOf's shortest-decimal
    representation) used by the driver-iterated PCA rounds. Pin it
    against Spark itself on the boundary cases: exact .5 ties (both
    signs), the shortest-repr-vs-binary-value traps (0.49999999999999994
    prints as itself, 2.675 is below 2.675 in binary but rounds on its
    printed form), large magnitudes, and real renorm-shaped ratios."""
    from pyspark.sql import functions as F

    from quiver_spark.operators.similarity2 import _round_half_up

    cases = [
        0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999999999994,
        -0.49999999999999994, 2.675, -2.675, 1e6 - 0.5, 123456.5,
        -123456.5, 999999.5, -999999.5, 0.0, -0.0, 1.0000000000000002,
        7.450580596923828e-09, 1e15 + 0.5, -1e15 - 0.5,
        333333.33333333337, -83771.49999999999, 83771.50000000001,
    ]
    rows = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(cases)], "i int, x double"
    ).select("i", F.round("x").cast("bigint").alias("r")).collect()
    got = {r["i"]: r["r"] for r in rows}
    for i, x in enumerate(cases):
        assert got[i] == _round_half_up(x), (i, x, got[i], _round_half_up(x))


def test_batch_topk_tie_and_nan_rules():
    """_batch_topk feeds the ANN candidate windows, so its per-batch
    selection must follow Spark's (score DESC, vec_id ASC) ordering
    exactly: lowest vec_id wins ties, and NaN sorts ABOVE every double
    (Spark's NaN-greatest rule) — a batch that drops a NaN or a tied
    low-id row would silently shrink the global top-k."""
    import numpy as np

    from quiver_spark.operators.similarity2 import _batch_topk

    vids = np.array([10, 3, 7, 5], dtype=np.int64)
    # int scores with a tie: 7 and 3 tie at 9 → 3 first
    S = np.array([[5, 9, 9, 1]], dtype=np.int64)
    q, v, s = _batch_topk(vids, S, np.array([42]), 3)
    assert v.tolist() == [3, 7, 10] and s.tolist() == [9, 9, 5]
    assert q.tolist() == [42] * 3
    # float scores with NaN: NaN ranks first, then 2.0, then 1.0
    Sf = np.array([[1.0, np.nan, 2.0, -np.inf]])
    q, v, s = _batch_topk(vids, Sf, np.array([7]), 3)
    assert v.tolist() == [3, 7, 10]
    assert np.isnan(s[0]) and s[1] == 2.0 and s[2] == 1.0
    # k larger than the batch: everything returned, no padding
    q, v, s = _batch_topk(vids, S, np.array([1]), 10)
    assert len(v) == 4


def test_pca_power_iteration_plan(spark):
    """embedding_pca_power_iteration: the 64-row y of each round is
    localCheckpoint-ed — without the boundary its two consumers (m and v)
    and every later round re-ran the corpus aggregate (audited: 6 corpus
    exchanges for 2 rounds, the lm_score defect class). The final plan
    must read from the checkpoint (Scan ExistingRDD), contain no corpus
    Generate, no window, and no Python eval; X·v stays a map-side fold."""
    df = _df(spark, "embedding_pca_power_iteration")
    plan = plans.physical_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Generate") == 0, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_cosine_assignment_is_map_side(spark):
    """embedding_kmeans_cosine: the spherical variant keeps the L2 gate's
    exact plan contract under the round-16 vectorized assignment — the
    final-round argmax is a MapInArrow node directly over the corpus
    scan, the update posexplodes off the assignment inside earlier
    rounds' jobs. Zero joins between corpus-scale relations; the only
    hash exchange in the final plan is the per-cluster stats
    aggregate."""
    df = _df(spark, "embedding_kmeans_cosine")
    plan = plans.physical_plan(df)
    assert "MapInArrow" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_semdedup_cos_blocking_key_is_only_corpus_shuffle(spark):
    """dedup_semantic_semdedup_cos: spherical training adds NO corpus
    shuffles on top of the base SemDeDup contract — assignment stays a
    broadcast fold, updates shuffle (cid, component) partials, and the
    one corpus-scale exchange is the (cid, subk) blocking shuffle into
    the streamed in-bucket scorer (+ the hinted broadcast sizes join;
    round 17: the pair self-join is gone)."""
    plan = _plan_no_autobroadcast(spark, "dedup_semantic_semdedup_cos")
    assert "BroadcastExchange" in plan, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert "MapInArrow" in plan, plan  # the in-bucket pair scorer
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_collapsed_plan_and_auto_k(spark):
    """dedup_semantic_semdedup_collapsed: ONE corpus-scale shuffle for
    the exact-collapse groupBy, a distinct-scale blocking exchange into
    the streamed in-bucket scorer, the
    two-level routed assignment as broadcast folds (no corpus join), a
    union-aggregate report, no window, no Python eval. Plus the
    executable K rule itself: sem_auto_k tracks ceil(N/SEM_TARGET)
    inside the clamp."""
    from quiver_spark.operators.pipeline9 import (
        SEM_K_MAX,
        SEM_K_MIN,
        SEM_TARGET,
        sem_auto_k,
    )

    assert sem_auto_k(0) == SEM_K_MIN
    assert sem_auto_k(SEM_TARGET * SEM_K_MIN) == SEM_K_MIN
    assert sem_auto_k(SEM_TARGET * 100) == 100
    assert sem_auto_k(SEM_TARGET * 100 + 1) == 101
    assert sem_auto_k(10**12) == SEM_K_MAX
    plan = _plan_no_autobroadcast(spark, "dedup_semantic_semdedup_collapsed")
    assert plan.count("SortMergeJoin") == 0, plan  # round 17: no pair join
    assert "MapInArrow" in plan, plan  # the in-bucket pair scorer
    assert "BroadcastExchange" in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
