"""Physical-plan regression tests — PLANS.md invariants as asserts.

Each test pins the plan property that makes a query scale; they fail
when someone reintroduces a pre-scan, loses predicate pushdown or
column pruning, drops a broadcast, or turns a bucket equi-join back
into a cross product.  Plans are inspected via the executed-plan string
(AQE's initial plan — hints and scan metadata are all visible there).
"""

from __future__ import annotations

import re

import __spark_entry__ as entry
from fixtures.gen import gen_transcripts
from ocr_spark.plans.extract_job import plan_extract
from ocr_spark.queries.vectors import _ivf_ranked_plan
from ocr_spark.sources.transcripts import transcripts_from_pandas

SF = "/root/testdata/sf0.001"
Q = entry.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _read_schema_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "ReadSchema" in ln]


def test_flagship_single_exchange_and_scan(spark, tmp_path):
    """PLANS.md invariants 1/2/4/5: ONE Exchange, ONE scan, 3-column
    ReadSchema (role/tool/ts pruned), per-partition (non-global) Sort."""
    p = str(tmp_path / "transcripts")
    transcripts_from_pandas(spark, gen_transcripts(n_convs=20)).write.parquet(p)
    out = plan_extract(spark.read.parquet(p), n_buckets=8)
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    rs = _read_schema_lines(plan)
    assert rs and "conv_id" in rs[0] and "text" in rs[0], plan
    assert "role" not in rs[0] and "tool" not in rs[0] and "ts:" not in rs[0]
    sort_lines = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert sort_lines and all("false, 0" in ln for ln in sort_lines), (
        "flagship Sort must be per-partition (global=false): " + plan
    )
    assert "MapInPandas" in plan


def test_min_len_filter_pushdown(spark):
    plan = _plan(Q["q_min_len_filter"](spark, SF))
    assert "GreaterThanOrEqual(n_chars,200)" in plan, plan
    rs = _read_schema_lines(plan)
    assert rs and "text" not in rs[0], (
        "q_min_len_filter must prune the wide text column: " + plan
    )


def test_lineitem_pricing_date_pushdown(spark):
    plan = _plan(Q["q_lineitem_pricing"](spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan, plan


def test_join_broadcast_is_broadcast(spark):
    plan = _plan(Q["q_join_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_anti_join_is_broadcast_anti(spark):
    plan = _plan(Q["q_anti_join"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_regional_revenue_broadcasts_fixed_dims(spark):
    """nation/region carry explicit hints (fixed 25/5 rows at any sf) —
    at least two broadcast joins must survive planning."""
    plan = _plan(Q["q_regional_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_countmin_single_scan(spark):
    """The sketch builds in ONE pass: one scan, no 4-way union re-read."""
    plan = _plan(Q["q_countmin_sketch"](spark, SF))
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan


def test_cm_heavy_hitters_broadcasts_sketch(spark):
    """The point-query side probes the vocab against the 4x256-cell
    sketch and the 1-row total via BROADCAST (never shuffling the vocab
    onto the sketch), and the words table is checkpointed once — the
    visible plan reads the checkpoint, not the corpus three times."""
    plan = _plan(Q["q_cm_heavy_hitters"](spark, SF))
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_lsh_is_equi_join_not_cross(spark):
    """Bucket equi-joins must never degrade to cross products — the
    entire point of the LSH family at 100 TB."""
    for q in (Q["q_embedding_ann_lsh"], Q["q_embedding_ann_lsh_mt"],
              Q["q_embedding_ann_lsh_mp"], Q["q_embedding_neardup"]):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_lsh_mp_materializes_buckets_once(spark):
    """The multi-probe index and probe tables must both read the ONE
    checkpointed bucket materialization (hyperplane dots computed once
    per vector), never re-derive it from the corpus — 0 parquet scans in
    the visible plan, like the rest of the dedup/ANN family."""
    plan = _plan(Q["q_embedding_ann_lsh_mp"](spark, SF))
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_ivf_broadcasts_centroids_only(spark):
    """IVF's one intentional cross join is vectors x broadcast centroid
    table (assignment — asserted on the un-checkpointed quantizer plan,
    since the query materializes it once via localCheckpoint); the
    intra-cell search must stay an equi-join."""
    assign_plan = _plan(_ivf_ranked_plan(spark, SF))
    assert "CartesianProduct" not in assign_plan, assign_plan
    assert "BroadcastNestedLoopJoin" in assign_plan, assign_plan
    plan = _plan(Q["q_embedding_ann_ivf"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    # candidate search joins hash on the cell key
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_funnel_one_scan_one_exchange(spark):
    """The windowed funnel is ONE pass over the event log and ONE hash
    exchange on user_id: the three sequencing stages are cascaded
    windows over the same partitioning and the final per-user aggregate
    reuses it (the staged-join formulation measured 10 Exchanges)."""
    plan = _plan(Q["q_funnel"](spark, SF))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_snapshot_delta_two_scans(spark):
    """Snapshot A and derived snapshot B each cost exactly one corpus
    scan (B's survive/edit/re-key rows emit from a single conditional
    explode, not a union of two filters)."""
    plan = _plan(Q["q_snapshot_delta"](spark, SF))
    assert plan.count("Scan parquet") == 2, plan
    assert "Union" not in plan, plan


def _expand_projections(plan: str) -> int:
    """Count top-level projection groups in the plan's single Expand
    node: `Expand [[proj1], [proj2], ...], [output...]`."""
    expand_lines = [ln for ln in plan.splitlines() if "Expand [" in ln]
    assert len(expand_lines) == 1, plan
    inner = expand_lines[0].split("Expand [", 1)[1]
    depth, projections = 0, 0
    for ch in inner:
        if ch == "[":
            if depth == 0:
                projections += 1
            depth += 1
        elif ch == "]":
            if depth == 0:
                break  # end of the projection-list argument
            depth -= 1
    return projections


def test_grouping_sets_one_expand_two_projections(spark):
    """q_grouping_sets asks for exactly the (event_type) and (weekday)
    marginals — the native groupingSets API must plan ONE Expand carrying
    exactly TWO projections (CUBE would expand to four).  Fails if the
    plan grows extra grouping projections."""
    assert _expand_projections(_plan(Q["q_grouping_sets"](spark, SF))) == 2
    # and the CUBE twin really does cost four
    assert _expand_projections(_plan(Q["q_cube_events"](spark, SF))) == 4


def test_bloom_filter_broadcasts_bit_table(spark):
    """The Bloom probe must join against the BROADCAST fixed-size bit
    table (65,536 bits regardless of corpus size — broadcasting it is
    the whole point of a Bloom pre-filter), and build+probe must share
    the ONE checkpointed key materialization, not re-scan the corpus."""
    plan = _plan(Q["q_bloom_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_hll_single_word_table(spark):
    """HLL registers and the exact-distinct contrast column must both
    read the ONE checkpointed distinct-word table (the corpus explode +
    distinct runs once), and the per-lang exact side joins broadcast
    (5 languages at any sf)."""
    plan = _plan(Q["q_hll_distinct"](spark, SF))
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_inverted_index_window_is_salted(spark):
    """P31's ranking window must partition by (w, salt), never bare w —
    a per-word window hands a stopword's entire posting list to ONE
    task.  Pins the salt column in every Window node's partition spec
    and the merge's bounded final aggregate."""
    plan = _plan(Q["q_inverted_index"](spark, SF))
    window_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert window_lines, plan
    for ln in window_lines:
        assert "salt" in ln, "unsalted posting-list window: " + ln
    assert "CartesianProduct" not in plan, plan


def test_dedup_family_materializes_shared_tables(spark):
    """The self-joined dedup/ANN queries materialize their shared
    derived tables (shingles/signatures/buckets) via localCheckpoint —
    the visible plan reads the checkpoint (ExistingRDD), not the corpus
    N times (q_minhash_lsh measured 12 parquet scans / 0 ReusedExchange
    before this design)."""
    for q in (Q["q_minhash_lsh"], Q["q_simhash_neardup"],
              Q["q_embedding_neardup"], Q["q_jaccard_prefix_join"]):
        plan = _plan(q(spark, SF))
        assert plan.count("Scan parquet") == 0, plan
        assert "ExistingRDD" in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """P36: the benchmark-gram set and the plant-snippet table are the
    tiny sides — both joins must broadcast so corpus grams are probed
    map-side and never shuffled."""
    plan = _plan(Q["q_decontaminate"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_target_mix_broadcasts_rate_table(spark):
    """P37: the 5-row per-lang rate table broadcasts onto the gated
    scan; the count pass prunes to the lang column."""
    plan = _plan(Q["q_target_mix_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan, plan
    rs = _read_schema_lines(plan)
    assert rs and any("text" not in ln for ln in rs), (
        "count pass must not read the wide text column: " + plan
    )


def test_fuzzy_join_broadcasts_catalog_no_cross(spark):
    """P38: blocking turns the all-pairs levenshtein cross product into
    a broadcast equi-join on the blocking key."""
    plan = _plan(Q["q_fuzzy_join"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_span_dedup_broadcasts_repeated_set(spark):
    """P40: the repeated-gram survivors (Zipf-small) broadcast back
    onto the positional gram stream; the word table is materialized
    once (checkpoint), not re-derived per side."""
    plan = _plan(Q["q_span_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_cell_equijoin_not_cross(spark):
    """P44: the within-cell pair search is an equi-join on the cell id,
    never a cross product, and both pair sides + the final left join
    read the ONE checkpointed assigned/ordered table (quantizer
    assignment runs once, not three times)."""
    plan = _plan(Q["q_semdedup"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_cluster_keeper_broadcasts_labels(spark):
    """P45: the component-label table (duplicate docs only — tiny next
    to the corpus) must BROADCAST onto the quality scan."""
    plan = _plan(Q["q_cluster_keeper"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_importance_resample_broadcasts_stats(spark):
    """P46: the 256-row bucket-ratio table broadcasts onto the scoring
    pass, and the word table is materialized once (checkpoint) for the
    stats aggregate AND the scoring join."""
    plan = _plan(Q["q_importance_resample"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_gopher_and_chunking_are_shuffle_free(spark):
    """P47/P48: pure per-document maps — ONE scan, ZERO exchanges, no
    Python UDF (whole-stage-codegen JVM expressions only)."""
    for q in (Q["q_gopher_rules"], Q["q_chunk_windows"],
              Q["q_c4_filters"]):
        plan = _plan(q(spark, SF))
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("Exchange") == 0, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_dedup_broadcast_anti_blocklist(spark):
    """P52: the domain blocklist is tiny and static — it must hit the
    corpus scan as a broadcast ANTI join, never a shuffle."""
    plan = _plan(Q["q_url_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_pack_sequences_one_exchange(spark):
    """P49: the per-(lang, shard) cumulative-offset window costs exactly
    one hash exchange — a global concat order would serialize at 100 TB."""
    plan = _plan(Q["q_pack_sequences"](spark, SF))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_pagerank_no_cross_products(spark):
    """P39: three unrolled Pregel rounds stay equi-join + hash-agg —
    a cross product anywhere means the rank/edge join key was lost."""
    plan = _plan(Q["q_pagerank"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_outlier_events_broadcast_stats(spark):
    """P55: both per-type stats tables (mean, variance) are 5 rows —
    they must come back onto the event scan as BROADCAST joins over the
    once-materialized narrow projection, never shuffled joins."""
    plan = _plan(Q["q_outlier_events"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "ExistingRDD" in plan, plan  # localCheckpoint materialize-once


def test_analytics_tier_single_scan(spark):
    """P54/P56/P57/P58: retention, skyline, profile, and trend each read
    the events table exactly ONCE (the profile oracle needs five scans —
    the stack() unpivot is the point) with no Python in the plan."""
    for q in (Q["q_retention_cohorts"], Q["q_pareto_frontier"],
              Q["q_table_profile"], Q["q_trend_slope"]):
        plan = _plan(q(spark, SF))
        assert plan.count("Scan parquet") == 1, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan, plan


def test_pareto_local_prune_before_global_window(spark):
    """P56: the global skyline window must be fed by the salt-partitioned
    LOCAL skyline (two Window nodes) — without local pruning the global
    single-partition sort sees every distinct point."""
    plan = _plan(Q["q_pareto_frontier"](spark, SF))
    assert plan.count("Window") >= 2, plan


def test_bm25_distributed_topk_and_broadcasts(spark):
    """P61: the top-10 must be a distributed TakeOrderedAndProject (never
    a single-partition window over matched docs), the query-term and df
    tables must broadcast, and the word table is materialized once."""
    plan = _plan(Q["q_bm25_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """SURVEY §4.2 claims partition pruning comes free from declarative
    plans — pin it: a filter on the partition column of a
    partitioned-parquet layout must appear as a PartitionFilter (scan
    reads one partition), not a post-scan Filter over all of them."""
    p = str(tmp_path / "events_parted")
    spark.read.parquet(SF + "/events.parquet").write.partitionBy(
        "event_type"
    ).parquet(p)
    df = (
        spark.read.parquet(p)
        .filter("event_type = 'purchase'")
        .groupBy("event_type")
        .count()
    )
    plan = _plan(df)
    [scan_line] = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pf, plan


def test_bloom_join_broadcasts_filter_structures(spark):
    """P69: the constant-size bit table (2^16 bits) is the ONLY forced
    broadcast — the bloom probe per distinct key must be a broadcast
    hash join, and nothing on the probe path may degenerate to a cross
    product.  The passing-key/build sets are fact-key-sized and carry
    no broadcast hint (ADVICE r4): at this sf Catalyst still broadcasts
    them from size stats, which is fine — the pin is that WE never force
    it, so at 100 TB stats drive the same joins to shuffle."""
    plan = _plan(Q["q_bloom_join"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "ExistingRDD" in plan, plan
    # the source carries exactly one broadcast() hint (the bit table)
    import inspect

    src = inspect.getsource(Q["q_bloom_join"])
    assert src.count("F.broadcast(") == 1, src


def test_no_count_job_for_size_derivation(spark, monkeypatch):
    """VERDICT r4 ask #4: parameter/size derivations (ANN bit widths from
    _emb_count, PageRank/k-core N, IVF centroid training) must come from
    parquet footer stats / pyarrow sampling — NEVER a Spark count()/
    collect()/toPandas() job fired while the plan is being CONSTRUCTED.
    (At production these are Iceberg snapshot statistics; a count() job
    here would be a full-table scan before the real query even starts.)
    Jobs that legitimately run at construction — schema inference and
    eager localCheckpoint materialization in the iterative queries — are
    unaffected: only driver-collecting actions are banned."""
    from pyspark.sql import DataFrame

    def banned(name):
        def _f(self, *a, **k):
            raise AssertionError(
                f"DataFrame.{name}() fired during plan construction"
            )
        return _f

    for action in ("count", "collect", "toPandas", "take", "first", "head"):
        monkeypatch.setattr(DataFrame, action, banned(action))
    qs = entry.queries()
    for name in (
        "q_embedding_ann_lsh",
        "q_embedding_ann_lsh_mt",
        "q_embedding_ann_lsh_mp",
        "q_embedding_ann_ivf",
        "q_embedding_ann_ivf_mp",
        "q_embedding_topk",
        "q_semdedup",
        "q_cluster_profile",
        "q_pagerank",
        "q_kcore",
        "q_minhash_lsh",
        "q_bloom_join",
        "q_hll_distinct",
        "q_bm25_topk",
        "q_inverted_index",
    ):
        qs[name](spark, SF)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """SURVEY §4.2's other free scan-reducer: joining a partitioned fact
    to a FILTERED dim must inject a dynamicpruning subquery into the
    fact scan's PartitionFilters (the dim's surviving keys prune fact
    partitions at runtime — at 100 TB this skips whole directories, not
    rows)."""
    p = str(tmp_path / "events_parted")
    spark.read.parquet(SF + "/events.parquet").write.partitionBy(
        "event_type"
    ).parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [("purchase", 1), ("view", 2)], "event_type string, grp int"
    ).filter("grp = 1")
    j = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), plan


def test_flagship_udf_stage_partition_count(spark, tmp_path):
    """PLANS.md invariant 3: the UDF stage's partition count is explicit
    (2 x defaultParallelism, or num_partitions when given), never sized
    by AQE from shuffle bytes — the one Exchange is REPARTITION_BY_NUM."""
    p = str(tmp_path / "transcripts")
    transcripts_from_pandas(spark, gen_transcripts(n_convs=20)).write.parquet(p)
    df = spark.read.parquet(p)
    n_default = 2 * spark.sparkContext.defaultParallelism
    for num_partitions, expected in ((None, n_default), (3, 3)):
        plan = _plan(plan_extract(df, n_buckets=8, num_partitions=num_partitions))
        [exchange] = [ln for ln in plan.splitlines() if "Exchange" in ln]
        m = re.search(
            r"hashpartitioning\(bucket#\d+L, salt#\d+, (\d+)\), REPARTITION_BY_NUM",
            exchange,
        )
        assert m and int(m.group(1)) == expected, exchange
