"""Scale-contract regression tests: assert the physical-plan properties
that make each operator viable at 100 TB, so an API change that silently
breaks pushdown/broadcast/top-k shows up here instead of on a cluster."""

import pytest

from polars_dataset_spark import suite
from polars_dataset_spark.plans import (
    count_exchanges,
    count_joins,
    expensive_snippet_counts,
    explain_str,
    has_take_ordered,
    has_unbounded_single_partition,
    plan_report,
    pushed_filters,
    read_schema_columns,
    single_partition_consumers,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = suite.QUERIES["q02_filter_project"](spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_quantity" in p for p in pf)
    assert any("l_discount" in p for p in pf)


def test_column_pruning(spark, sf_dir):
    df = suite.QUERIES["q02_filter_project"](spark, sf_dir)
    (cols,) = read_schema_columns(df)
    # 6 of lineitem's 11 columns read: projection pruned the scan
    assert len(cols) == 6
    assert "l_returnflag" not in cols and "l_partkey" not in cols


def test_star_join_all_broadcast(spark, sf_dir):
    df = suite.QUERIES["q06_star_join"](spark, sf_dir)
    joins = count_joins(df)
    assert joins["broadcast_hash"] == 4
    assert joins["sort_merge"] == 0
    # the fact table never shuffles: the only shuffle is the final agg
    assert count_exchanges(df) <= 1


def test_topk_plans_take_ordered(spark, sf_dir):
    df = suite.QUERIES["q13_topk"](spark, sf_dir)
    assert has_take_ordered(df)


def test_agg_is_partial_then_final(spark, sf_dir):
    df = suite.QUERIES["q01_pricing_summary"](spark, sf_dir)
    text = explain_str(df)
    assert "partial" in text.lower()  # map-side combine before the shuffle
    assert count_exchanges(df) <= 1


def test_asof_single_shuffle_per_side(spark, sf_dir):
    df = suite.QUERIES["q22_asof_join"](spark, sf_dir)
    # auto-selected broadcast asof: no nested-loop/range join blowup and —
    # the 100-TB contract — no single-partition global sort of |L|+|R| rows
    joins = count_joins(df)
    assert joins["broadcast_nested_loop"] == 0
    # the old check ("Exchange SinglePartition" in explain_str) was DEAD:
    # formatted explain splits node name and arguments across lines, so
    # the substring never occurs — use the executed-plan consumer walk
    assert single_partition_consumers(df) == []
    text = explain_str(df)
    assert "FlatMapGroupsInPandas" in text or "MapInPandas" in text


def test_regrid_single_group_shuffle(spark, sf_dir):
    df = suite.QUERIES["q40_regrid"](spark, sf_dir)
    text = explain_str(df)
    assert "FlatMapGroupsInPandas" in text or "FlatMapGroupsInArrow" in text


def test_partition_hint_sets_layout(spark, sf_dir):
    from polars_dataset_spark import Dataset

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ds = Dataset(li, index="l_shipdate", id_vars=["l_returnflag"]).partition_hint(8)
    text = explain_str(ds.df)
    assert "hashpartitioning(l_returnflag" in text
    # sortWithinPartitions → a non-global Sort node over the index column
    assert "Sort" in text and "l_shipdate" in text


def test_sample_exact_n_plans_take_ordered(spark, sf_dir):
    # exact-n sampling must NOT materialize a global sort: md5 order + limit
    # plans TakeOrderedAndProject (per-partition top-n, merged)
    df = suite.QUERIES["q81_sample_exact_n"](spark, sf_dir)
    assert has_take_ordered(df)


def test_interpolate_nulls_no_single_partition(spark, sf_dir):
    # both gap-fill lookups are GROWING window frames partitioned by the
    # trace key — no shrinking frame (O(n²) re-aggregation) and no global
    # single-partition exchange
    df = suite.QUERIES["q82_interpolate_nulls"](spark, sf_dir)
    assert single_partition_consumers(df) == []
    assert "following$()" not in explain_str(df).lower()


def test_suite_wide_scale_red_flag_audit(spark, sf_dir):
    """Every queries() entry is audited for the plan shapes that do not
    survive 100 TB — single-partition exchanges, nested-loop joins,
    cartesian products — against an explicit whitelist of the queries
    where the shape is the documented design. A new query that silently
    plans one of these fails here instead of on a cluster."""
    allowed = {
        "q34_cosine_topk": {"BNL"},  # declared exact baseline: broadcast probes × corpus
        "q46_cross_join": {"BNL"},  # deliberate 5×5 cross join
        "q61_join_where": {"BNL"},  # inequality-only theta join (scale path: q70)
        "q62_fill_nan": {"BNL"},  # 1-row × 1-row aggregate crossJoin
        "q124_source_kl": {"BNL"},  # 1-row corpus-total broadcast crossJoin
        "q144_heavy_hitters": {"BNL"},  # 1-row total-count broadcast crossJoin
        "q146_ivf_recall": {"BNL"},  # recall audit runs the exact cosine baseline (q34's declared BNL) as its reference
        "q175_dsir_weights": {"BNL"},  # 1-row corpus-totals broadcast crossJoin (q124/q144 pattern)
        "q195_bm25_topk": {"BNL"},  # 1-row corpus-totals (N, sum dl) broadcast crossJoin
        "q197_hll_distinct": {"BNL"},  # 1-row exact-distinct broadcast crossJoin (accuracy contract column)
        "q198_numeric_outliers": {"BNL"},  # two 1-row scalar (median, MAD) broadcast crossJoins
        "q200_bm25_topk_many": {"BNL"},  # two 1-row broadcasts: vocab-size agg (retrieval.py idf) + corpus totals crossJoin — same bounded class as q195
        "q248_pagerank": {"BNL"},  # per-iteration 1-row broadcasts (node count init + dangling-mass aggregate) — the bounded q124 class; the per-edge work is a keyed hash join + hash agg
        "q255_budget_apportionment": {"BNL"},  # two 1-row scalar broadcasts (Σweight, Σfloor) — q124 class; the remainder rank rides the distributed prefix sum
        # NO SINGLE_PART entries: SINGLE_PART means an UNBOUNDED
        # single-partition exchange (consumer is a Sort/Window/map over
        # instance-scale data). Bounded final-global-aggregate single
        # partitions (one partial row per upstream partition) exist in 20
        # queries by design and are allowed by the consumer walk; the
        # fixed r7 audit (the old explain_str substring check was DEAD)
        # confirmed the whole suite has ZERO unbounded ones — every
        # positional/rank op rides TakeOrderedAndProject, a keyed window,
        # or the two-pass distributed prefix sum.
    }
    # Expensive-expression duplication caps (the round-7 q199 disease:
    # CollapseProject inlines a single-projection operator's named
    # sub-expressions at every reference — md5 chain x16 ran 4.5x slow).
    # Default cap 5 copies of any one >=40-char expensive-call snippet.
    # NB the count is plan-TEXT copies: filter PUSHDOWN (re-derives the
    # predicate below the projections, ~2x per-row with CASE
    # short-circuit, in exchange for filtering early) and join-BRANCH
    # rescans (each branch runs once) also repeat the snippet without
    # per-row multiplication — the adjudicated exceptions below are all
    # of those two shapes, with warm-solo runtimes cited from
    # BENCH_SERIAL/this round's session:
    dup_allowed = {
        # isnotnull(domain) pushdown re-derives the host regex in the
        # pushed filter; projection side is CSE'd (_common_expr) (0.7 s)
        "q179_url_filter": 9,
        # same shape as q179: the profile-side left-join key inference
        # (isnotnull(domain)) pushes the host-regex derivation into the
        # scan filter; both projection sides stay CSE'd/staged; one
        # pushed-filter eval per row with CASE short-circuit (2.1 s
        # warm solo at sf0.01; off-scale x2.1 at x10 data)
        "q237_domain_prior_drop": 9,
        # gopher_keep conjunction pushdown: 7 copies in the pushed
        # filter, ONE in the staged projection (0.6 s)
        "q172_curation_pipeline": 8,
    }
    problems = []
    for name, fn in suite.QUERIES.items():
        df = fn(spark, sf_dir)
        text = explain_str(df)
        flags = set()
        # executed-plan check (the explain_str substring form was dead);
        # bounded global-agg single partitions are allowed, sort/window/
        # map consumers are the real red flag
        if has_unbounded_single_partition(df):
            flags.add("SINGLE_PART")
        if "BroadcastNestedLoopJoin" in text:
            flags.add("BNL")
        if "CartesianProduct" in text:
            flags.add("CARTESIAN")
        extra = flags - allowed.get(name, set())
        worst = max(expensive_snippet_counts(df).values(), default=0)
        if worst > dup_allowed.get(name, 5):
            extra.add(f"EXPR_DUP x{worst}")
        if extra:
            problems.append((name, sorted(extra)))
    assert not problems, f"unexpected scale red flags: {problems}"


def test_expensive_snippet_counts_detects_inlined_duplication(spark):
    """The detector's core contract: a single projection that references
    a named md5-chain alias N times shows N copies (CollapseProject
    inlines it), while the staged two-projection form shows one."""
    from pyspark.sql import functions as F

    df = spark.range(8).withColumn("t", F.concat(F.lit("x"), F.col("id")))
    chain = F.filter(
        F.sequence(F.lit(1), F.length("t")),
        lambda i: F.conv(F.substring(F.md5(F.substring("t", i, 2)), 1, 15), 16, 10)
        .cast("long") % 4 == 0,
    )
    # inlined: one projection mentions the chain three times
    inlined = df.select(
        (F.size(chain) + F.size(chain) * 2).alias("a"),
        F.element_at(chain, 1).alias("b"),
    )
    worst_inlined = max(expensive_snippet_counts(inlined).values(), default=0)
    assert worst_inlined >= 3
    # staged: alias the chain in its own projection, reference the column
    staged = df.withColumn("__c", chain).select(
        (F.size("__c") + F.size("__c") * 2).alias("a"),
        F.element_at("__c", 1).alias("b"),
    )
    worst_staged = max(expensive_snippet_counts(staged).values(), default=0)
    assert worst_staged <= 1


def test_plan_report_shape(spark, sf_dir):
    rep = plan_report(suite.QUERIES["q06_star_join"](spark, sf_dir))
    assert set(rep) == {"pushed_filters", "read_schemas", "joins", "shuffle_exchanges", "take_ordered"}


def test_scale_report_flags(spark, sf_dir):
    from polars_dataset_spark.plans import scale_report

    # Dataset-level convenience returns the same shape
    from polars_dataset_spark import Dataset

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ds_rep = Dataset(li, index="l_shipdate", id_vars=["l_returnflag"]).scale_report()
    assert "worst_expr_dup" in ds_rep and not ds_rep["single_partition"]

    # a clean broadcast star join: no red flags, no python, no duplication
    rep = scale_report(suite.QUERIES["q06_star_join"](spark, sf_dir))
    assert not rep["single_partition"] and not rep["cartesian"]
    assert not rep["nested_loop_join"] and not rep["python_udf"]
    assert rep["worst_expr_dup"] <= 1
    assert rep["joins"]["broadcast_hash"] == 4
    # the declared-exact cosine baseline: BNL by design (dot products stay
    # JVM-side via aggregate/zip_with, so no python flag)
    rep2 = scale_report(suite.QUERIES["q34_cosine_topk"](spark, sf_dir))
    assert rep2["nested_loop_join"] and not rep2["python_udf"]
    # regrid: a genuine grouped pandas kernel must raise the python flag
    rep3 = scale_report(suite.QUERIES["q40_regrid"](spark, sf_dir))
    assert rep3["python_udf"] and not rep3["nested_loop_join"]


def test_heavy_hitters_candidate_prune_is_broadcast(spark, sf_dir):
    """The exact-verify count must prune the stream with a BROADCAST
    semi-join BEFORE the counting shuffle — if the candidate set ever
    planned as a shuffled join, the sketch would pay the full
    distinct-key shuffle it exists to avoid."""
    df = suite.QUERIES["q144_heavy_hitters"](spark, sf_dir)
    text = explain_str(df)
    assert "BroadcastHashJoin" in text and "LeftSemi" in text
    assert not has_unbounded_single_partition(df)


def test_pca_projection_is_map_only(spark, sf_dir):
    """pca_project adds zero exchanges over the scan: the component
    matrix travels as a closure broadcast, the projection is one
    Arrow-batched map stage."""
    from polars_dataset_spark.functions import fit_pca, pca_project
    from polars_dataset_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_pca(emb, "embedding", k=4)
    assert count_exchanges(pca_project(emb, model, "embedding")) == 0


def test_gopher_rules_map_only(spark, sf_dir):
    """The rule set is pure codegen'd expressions: zero exchanges, no
    UDF stage, over the scan."""
    from polars_dataset_spark.functions import with_gopher_rules
    from polars_dataset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = with_gopher_rules(docs)
    assert count_exchanges(df) == 0
    assert "pythonUDF" not in explain_str(df).lower()


def test_cap_per_group_single_window_shuffle(spark, sf_dir):
    """The per-domain cap is exactly one hash exchange (the group
    window) — no global sort, no single partition."""
    from polars_dataset_spark.functions import cap_per_group
    from polars_dataset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = cap_per_group(docs, "source", n_max=10)
    assert count_exchanges(df) == 1
    assert single_partition_consumers(df) == []


def test_assign_training_shards_map_only(spark, sf_dir):
    """Shard/order assignment adds zero exchanges over the scan — the
    shuffle happens once, at write time, by shard."""
    from polars_dataset_spark.functions import assign_training_shards
    from polars_dataset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert count_exchanges(assign_training_shards(docs)) == 0


def test_dsir_ratio_join_is_broadcast(spark, sf_dir):
    """The ≤buckets-row log-ratio table must come back onto the per-doc
    features as a BROADCAST join — a shuffled join there would re-key
    the instance-scale feature table a second time for nothing."""
    from pyspark.sql import functions as F

    from polars_dataset_spark.functions import dsir_score
    from polars_dataset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = dsir_score(docs, F.col("lang") == "en", buckets=256)
    text = explain_str(df)
    assert "BroadcastHashJoin" in text
    # the corpus-totals reduction IS a bounded single-partition global
    # agg (one partial row per partition) — the honest invariant is no
    # UNBOUNDED single partition (the old dead substring check hid this)
    assert single_partition_consumers(df) == ["HashAggregate"]
    assert not has_unbounded_single_partition(df)
    assert "pythonUDF" not in text.lower()
