"""Physical-plan quality gates (the 100 TB posture, asserted).

Correctness tests prove WHAT each plan computes; these prove the plan
SHAPE is the one that survives a 1000-executor scale-up:

- dimension lookups run as broadcast joins (no shuffle of the fact
  side for a dim resolution);
- filters and column projections reach the parquet scan (pushdown /
  pruning — a scan reading every column for a 2-column projection is
  wrong at any scale);
- hot paths stay inside whole-stage codegen;
- fact-side surrogate keys never fall into a global single-partition
  window (the one WindowExec shape that cannot scale).
"""

from __future__ import annotations

from olist_ecommerce_data_warehouse_spark.plans import REGISTRY
from tests.conftest import SF_DIR, canonical_rows


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark):
    """Every dim resolution in the star build must be a broadcast
    join — fact rows never shuffle to look up a dim row."""
    plan = _plan(spark, "gold_fact_lineitem")
    assert "BroadcastHashJoin" in plan
    # part/supplier dims resolve via broadcast; orders⨝lineitem is the
    # one legitimate shuffle join (fact-fact on orderkey)
    assert plan.count("BroadcastHashJoin") >= 2


def test_flagship_projection_prunes_scan(spark):
    """The flagship scan must read only the columns the query needs —
    ReadSchema at the lineitem scan stays narrow."""
    plan = _plan(spark, "flagship_revenue_by_brand")
    # lineitem has 16 columns; the flagship needs ≤5 of them
    for ln in plan.splitlines():
        if "ReadSchema" in ln and "l_orderkey" in ln:
            n_cols = ln.count(":")
            assert n_cols <= 6, f"lineitem scan reads too many columns: {ln}"


def test_filter_pushdown_reaches_scan(spark):
    """A plan filtering on a scanned column must push the predicate
    into the parquet source (PushedFilters non-empty)."""
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [" in plan


def test_hot_path_in_codegen(spark):
    """The cleansing projections must run inside whole-stage codegen
    (no interpreted per-row fallback in the simple-transform tier)."""
    plan = _plan(spark, "cleanse_decimal_comma")
    # executedPlan.toString marks codegen'd operators with a "*(n) "
    # prefix (WholeStageCodegen subtree n)
    assert "*(1) Project" in plan or "WholeStageCodegen" in plan


def test_fact_sk_no_global_window(spark):
    """The fact-size surrogate-key path must not plan a global
    single-partition window over the fact rows: every window in the
    two-phase numbering is partitioned (the only unpartitioned window
    allowed is the tiny per-bucket offsets rollup, which windows over
    bucket counts, not data rows)."""
    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.operators.surrogate import add_surrogate_key

    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_linenumber")
    df = add_surrogate_key(li, ["l_orderkey", "l_linenumber"], sk_col="sk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    data_windows = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "row_number" in ln and "__bucket" not in ln
    ]
    assert not data_windows, f"global window over data rows: {data_windows}"


def test_corpus_plans_shuffle_budget(spark):
    """The MIXING kind is a pure map + explode with ZERO shuffles —
    asserted on the operator subplan, since round 6 merged the DSIR
    kind into the corpus_mixing registry slot and DSIR legitimately
    shuffles for its model-sized bucket aggregates.  Its 3-domain
    config takes the inline-conditional weight path (small configs pay
    no broadcast build; >32 domains auto-switch to the broadcast-joined
    weights table, asserted in test_sample_by_weight_thousand_domains);
    sequence_packing pays exactly one shuffle — the per-stream window,
    whose partitioning the greedy Arrow stage reuses."""
    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.operators.sampling import (
        sample_by_weight,
    )
    from olist_ecommerce_data_warehouse_spark.plans.corpus import MIX_WEIGHTS

    d = table(spark, SF_DIR, "documents").select("doc_id", "lang")
    mix = sample_by_weight(d, MIX_WEIGHTS, source_col="lang")
    mix_plan = mix._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in mix_plan, mix_plan
    pack_plan = _plan(spark, "sequence_packing")
    assert pack_plan.count("Exchange") == 1, pack_plan


def test_text_lang_id_single_join_fanin(spark):
    """Round 7 collapsed text_lang_id's four doc_id-joined branches
    (lang evidence / qc head / labels / trained qt head — the round-6
    verdict's fan-in finding) into one base projection joined ONCE
    with one fused aggregation over the persisted feature table.  The
    executed plan must hold that shape: exactly one corpus-grain join
    (sort-merge on doc_id) and an Exchange budget of 5 (feature-table
    build, per-bucket agg reuse, head aggregation, two join sides) —
    the old shape paid 3 corpus-wide joins and a second full feature
    explode.

    Round 10 adds the scan-width rebalance (catalog.spread — the
    single-row-group scan plans 1 task otherwise, guide §2.5), which
    shows up as RoundRobinPartitioning exchanges of the RAW rows
    (repeated in the printed plan wherever the cached feats subtree is
    inlined).  Those are the deliberate fix, not fan-in regressions —
    the budget pins the KEYED exchanges (join/agg shuffles), which is
    what the round-7 collapse was about."""
    plan = _plan(spark, "text_lang_id")
    assert plan.count("SortMergeJoin") == 1, plan
    keyed = plan.count("Exchange") - plan.count("Exchange RoundRobinPartitioning")
    assert keyed <= 5, plan
    # ADVICE r10: the round-robin count is capped too — the budget
    # above must not become a blind spot where unintended repartitions
    # accumulate (the deliberate spread() inlines as 3 RR exchanges in
    # this printed plan today; 4 leaves one re-inlining of headroom)
    assert plan.count("Exchange RoundRobinPartitioning") <= 4, plan


def test_ann_plans_no_cartesian(spark):
    """The ANN rewrite must keep all-pairs scoring out of the plan:
    no CartesianProduct / BroadcastNestedLoopJoin anywhere — scoring
    happens inside the Arrow Gram kernels, not a join."""
    for name in ("ann_cosine_topk", "ann_ivf_topk"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_semdedup_blocked_scoring_shape(spark):
    """SemDeDup (dedup_embedding_cosine kind='semdedup') must score
    pairs only inside per-cluster Arrow groups: the executed plan
    carries FlatMapGroupsInPandas for both blocking strategies and no
    pair-level join (CartesianProduct / BroadcastNestedLoopJoin), and
    cluster assignment stays a narrow mapInPandas — no shuffle join
    reuniting (id, cluster) with vectors."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 2  # label + semdedup blocks
    assert "MapInPandas" in plan  # ivf_assign kernel (carries the vector)


def test_minhash_signature_fold_is_partial_min(spark):
    """The MinHash signature fold must run as k map-side partial MIN
    aggregates in a codegen'd HashAggregate — not the round-1 30s shape
    (collect_list of per-shingle hash vectors folded by interpreted
    higher-order ``aggregate`` lambdas).  collect_list may still appear
    downstream (the Jaccard VERIFY stage builds per-doc shingle
    arrays), and ``zip_with`` appears legitimately in the shingle
    BUILDER (the per-row n-gram concat fold) — the banned shape is the
    per-signature ``aggregate(`` fold."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "partial_min" in plan
    assert "HashAggregate" in plan
    assert "aggregate(" not in plan.replace(
        "HashAggregate(", ""
    ).replace("ObjectHashAggregate(", "")


def test_new_round2_plans_no_cartesian_and_pruned(spark):
    """The round-2 additions keep the scale invariants: no cartesian /
    nested-loop joins anywhere, and the documents scan stays pruned to
    the columns the plan needs."""
    for name in ("dedup_cluster_cc", "contamination_check"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        for ln in plan.splitlines():
            if "ReadSchema: struct<" in ln and "doc_id" in ln:
                schema = ln.split("ReadSchema: struct<", 1)[1].rsplit(">", 1)[0]
                n_cols = schema.count(",") + 1
                # documents has 5 columns; both plans need ≤2
                assert n_cols <= 2, f"{name} scan too wide: {ln}"


def test_bucketed_merge_upsert_zero_exchange(spark):
    """MERGE on co-located (bucketed-by-key) tables must plan with ZERO
    Exchange — the incremental-maintenance shape for a 100 TB fact
    table: the daily delta joins the base without shuffling either
    side."""
    import shutil

    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.operators.merge import merge_upsert
    from olist_ecommerce_data_warehouse_spark.sources.bucketed import (
        read_table,
        write_bucketed,
    )

    # pre-clean leftover managed-table dirs (warehouse.dir is a static
    # conf; same pattern as tests/test_bucketed.py)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in ("m_base", "m_delta"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
    base = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    delta = base.limit(500).withColumn("o_totalprice", base.o_totalprice * 2)
    write_bucketed(base, "m_base", ["o_orderkey"], num_buckets=4, sort_cols=["o_orderkey"])
    write_bucketed(delta, "m_delta", ["o_orderkey"], num_buckets=4, sort_cols=["o_orderkey"])
    merged = merge_upsert(
        read_table(spark, "m_base"), read_table(spark, "m_delta"), ["o_orderkey"]
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r["o_orderkey"]: r for r in merged.collect()}
    n_updates = sum(1 for r in got.values() if r["__merge_action"] == "update")
    assert n_updates == 500
    assert len(got) == base.count()


def test_round3_plan_shapes(spark):
    """Shape budget for the round-3 plans: embedding_quantize is one
    narrow Arrow pass (ZERO Exchange); merge_upsert_incremental is one
    full-outer sort-merge join — exactly two Exchanges (one per side),
    no window, no broadcast-nested-loop; both mixing and quantize stay
    window-free."""
    q_plan = _plan(spark, "embedding_quantize")
    assert "Exchange" not in q_plan, q_plan
    assert "MapInPandas" in q_plan

    m_plan = _plan(spark, "merge_upsert_incremental")
    assert m_plan.count("Exchange") == 2, m_plan
    assert "SortMergeJoin" in m_plan and "FullOuter" in m_plan
    assert "BroadcastNestedLoopJoin" not in m_plan
    assert "Window" not in m_plan


def test_sequence_packing_single_exchange(spark):
    """The packing plan computes BOTH layouts (window cumsum + greedy
    Arrow fold) off ONE hash exchange on the stream key: the window's
    partitioning satisfies the packer's groupBy clustering, so adding
    the greedy stage must not add a shuffle."""
    plan = _plan(spark, "sequence_packing")
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Window" in plan


def test_range_join_branch_is_hash_join(spark):
    """The interval branch of asof_click_attribution must plan the
    bucketized rewrite as an EQUI-join on the bin (hash/sort-merge
    shuffle, AQE-splittable) — a naive BETWEEN theta join would plan a
    BroadcastNestedLoopJoin, quadratic at corpus scale.  The oracle IS
    that naive theta join, so the driver's hash gate plus this shape
    gate together prove 'same rows, scalable plan'."""
    plan = _plan(spark, "asof_click_attribution")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the bin equi-join is a real join (broadcast or shuffled hash) and
    # the window-explosion side stays bounded (Generate = the sequence
    # explode of interval replicas)
    assert "Generate" in plan and "explode" in plan
    assert "Join" in plan


def test_morton_gate_adds_no_scan(spark):
    """The round-5 Z-order gate rides the EXISTING single-pass
    aggregate of approx_aggregates: the plan still scans events
    exactly 3 times (two partial-distinct counts + one sketch/morton
    aggregate) and the Morton key stays inside whole-stage codegen —
    the gate must cost an expression, not a pass."""
    plan = _plan(spark, "approx_aggregates")
    n_scans = sum(
        1 for ln in plan.splitlines() if "Scan parquet" in ln and "events" in ln
    )
    assert n_scans == 3, f"events scanned {n_scans}x"
    assert "CartesianProduct" not in plan


def test_multimodal_metadata_is_pure_map_rollup(spark):
    """The multimodal gate plan is one Arrow map + one small rollup:
    every probe and decode gate runs in a SINGLE mapInPandas over the
    (spread) id scan, ZERO joins of any kind, zero windows, and at
    most three Exchanges — the spread, the gates' grouped sum and the
    storage rollup's aggregate."""
    plan = _plan(spark, "multimodal_metadata")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BroadcastNestedLoopJoin", "Window"):
        assert op not in plan, (op, plan[:2000])
    assert plan.count("MapInPandas") == 1, plan.count("MapInPandas")
    assert plan.count("Exchange") <= 3, plan.count("Exchange")


def test_ivf_constructions_write_distinct_dirs_and_keep_earlier_frames(spark):
    """Every ann_ivf_topk construction saves its trained index into a
    fresh ``.scratch/ivf_index_*`` dir that nothing rewrites: two
    constructions leave two distinct complete index dirs, and the
    FIRST frame (whose scan already listed its part files) still
    collects after the second construction, with the same rows."""
    import os
    import shutil

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )

    def index_dirs():
        if not os.path.isdir(scratch):
            return set()
        return {d for d in os.listdir(scratch) if d.startswith("ivf_index_")}

    before = index_dirs()
    first = REGISTRY["ann_ivf_topk"].fn(spark, SF_DIR)
    after_first = index_dirs()
    second = REGISTRY["ann_ivf_topk"].fn(spark, SF_DIR)
    new_first = after_first - before
    new_second = index_dirs() - after_first
    try:
        assert len(new_first) == 1 and len(new_second) == 1, (new_first, new_second)
        assert new_first != new_second
        for d in new_first | new_second:
            for part in ("centroids", "assigned"):
                assert os.path.exists(os.path.join(scratch, d, part, "_SUCCESS")), (d, part)
        rows_first = canonical_rows(first.toPandas())
        rows_second = canonical_rows(second.toPandas())
        assert rows_first == rows_second and len(rows_first) > 0
    finally:
        for d in new_first | new_second:
            shutil.rmtree(os.path.join(scratch, d), ignore_errors=True)


def test_package_has_no_unused_imports():
    """Every name a module of the package, ``scripts/`` or ``tests/``
    imports is used in that module: an ``ast`` walk over the
    non-``__init__`` modules (the ``__init__`` files re-export on
    purpose) compares each import's bound name with the module's
    ``Name`` nodes."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    dirs = ("olist_ecommerce_data_warehouse_spark", "scripts", "tests")
    unused = []
    for path in sorted(p for d in dirs for p in (repo / d).rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    name = alias.asname or alias.name.split(".")[0]
                    if name not in used:
                        unused.append(f"{path.relative_to(repo)}:{node.lineno} {name}")
    assert not unused, unused


def test_session_factory_cluster_topology_support():
    """Round-10 local-cluster smoke support (verdict r09 task 2): the
    session factory must resolve a ``SPARK_GRAFT_MASTER`` local-cluster
    URL to its true total core count (shuffle partitioning is sized to
    cluster width, not the local cpu arg), and the executor package
    zip must actually contain the package — the smoke's first failure
    was an empty zip shipping cleanly and dying later as an
    executor-side ModuleNotFoundError."""
    import os
    import zipfile

    from olist_ecommerce_data_warehouse_spark.session import _master, _package_zip

    # pin the env var both ways so the test holds even when the whole
    # suite itself runs under SPARK_GRAFT_MASTER (the round-10
    # local-cluster sweep does exactly that)
    saved = os.environ.pop("SPARK_GRAFT_MASTER", None)
    try:
        assert _master(32) == ("local[32]", 32)
        os.environ["SPARK_GRAFT_MASTER"] = "local-cluster[2,4,4096]"
        assert _master(32) == ("local-cluster[2,4,4096]", 8)
    finally:
        if saved is None:
            os.environ.pop("SPARK_GRAFT_MASTER", None)
        else:
            os.environ["SPARK_GRAFT_MASTER"] = saved

    path = _package_zip()
    with zipfile.ZipFile(path) as zf:
        names = zf.namelist()
    assert "olist_ecommerce_data_warehouse_spark/__init__.py" in names
    assert "olist_ecommerce_data_warehouse_spark/operators/similarity.py" in names
    assert len(names) > 30
