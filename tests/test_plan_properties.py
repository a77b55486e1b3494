"""Physical-plan regression guards: the properties PLANS.md documents,
asserted so a future edit can't silently regress them — filters must
reach the scan, dimensions must broadcast, global top-k must plan as
TakeOrderedAndProject, and scans must prune columns."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import all_queries

SF_DIR = "/root/testdata/sf0.001"
SPECS = all_queries()


def final_plan(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()  # finalize AQE decisions
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = final_plan(spark, "q02_filter_project_pushdown")
    assert "PushedFilters: [" in plan
    assert "EqualTo(o_orderstatus,F)" in plan or "o_orderstatus" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_point_lookup_pushes_key_predicate(spark):
    plan = final_plan(spark, "q03_point_lookup")
    assert "EqualTo(o_orderkey,42)" in plan


def test_flagship_joins_broadcast(spark):
    plan = final_plan(spark, "q01_flagship_revenue_by_region_year")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # at fixture scale AQE broadcasts all sides


def test_column_pruning(spark):
    plan = final_plan(spark, "q01_flagship_revenue_by_region_year")
    # the lineitem scan must read exactly the 3 needed columns
    scans = [seg.split("]")[0] for seg in plan.split("FileScan parquet [")[1:]]
    li_scans = [s for s in scans if "l_extendedprice" in s]
    assert li_scans and all(s.count(",") == 2 for s in li_scans)
    assert all("l_tax" not in s for s in li_scans)


def test_global_topk_is_take_ordered(spark):
    plan = final_plan(spark, "q18_global_topk")
    assert "TakeOrderedAndProject" in plan


def test_semi_and_anti_join_operators(spark):
    semi = final_plan(spark, "q10_join_semi")
    anti = final_plan(spark, "q11_join_anti")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_ivf_centroids_no_global_sort(spark):
    """q76's centroid selection must stay a hash-ordered top-k
    (TakeOrderedAndProject), never a global Sort + row_number (the
    round-1 scale-killer this guards against)."""
    plan = final_plan(spark, "q76_ivf_topk_cosine")
    assert "TakeOrderedAndProject" in plan


def test_tpch_q5_star_broadcasts(spark):
    """q99: every dimension side of the 6-way star broadcasts; the
    lineitem scan prunes to its 4 needed columns."""
    plan = final_plan(spark, "q99_tpch_q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "l_extendedprice" in plan and "l_comment" not in plan


def test_sequence_packing_window_is_sharded(spark):
    """q102's running total must partition by shard — an empty window
    partition spec would serialize the whole corpus on one task."""
    df = SPECS["q102_sequence_packing"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # the Window's partition expression must mention the shard column
    window_section = plan[plan.index("Window") :][:400]
    assert "shard" in window_section


def test_global_window_sites_annotated():
    """Unpartitioned-window lint (round-7 VERDICT item 3): every window
    spec built without a partition key — `W.orderBy(...)` or an empty
    `W.partitionBy()` — serializes its whole input frame onto one task,
    which is legal ONLY over a frame already reduced to model size
    (bins, days, sources, top-k) or with a documented 100 TB rank path
    (repartitionByRange + per-partition offsets). Each such site must
    carry a `# global-window-ok: <reason>` annotation on the same line
    or within the three preceding lines; an unannotated site fails
    here, forcing the author to either partition the window or justify
    the frame size in place."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "airflow_scraping_etl_tutorial_spark"
    )
    # Whole-text scan so a site split across lines (`W\n  .orderBy(`),
    # an instantiated form (`Window().orderBy(`), or a locally aliased
    # import (`Window as Win`) cannot evade the lint (round-8 ADVICE).
    site_re = re.compile(
        r"\b(?:W|Window|Win|window_spec)(?:\(\))?\s*\.\s*"
        r"(?:orderBy\s*\(|partitionBy\s*\(\s*\))"
    )
    alias_re = re.compile(r"import\s+Window\s+as\s+(\w+)")
    unannotated = []
    n_sites = 0
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        aliases = set(alias_re.findall(text)) - {"W", "Window", "Win"}
        assert not aliases, (
            f"{path}: Window aliased as {aliases} — add the alias to the "
            "global-window lint's site_re or use the standard `W`"
        )
        lines = text.splitlines()
        for m in site_re.finditer(text):
            i = text.count("\n", 0, m.start())  # 0-based line of match start
            # ignore matches inside a comment (annotations themselves
            # name the patterns they gate)
            if "#" in lines[i][: m.start() - (text.rfind("\n", 0, m.start()) + 1)]:
                continue
            n_sites += 1
            context = "\n".join(lines[max(0, i - 3) : i + 1])
            if "global-window-ok:" not in context:
                unannotated.append(f"{path.relative_to(pkg.parent)}:{i + 1}")
    assert n_sites > 0  # the lint must actually be scanning something
    assert not unannotated, (
        "unpartitioned window without a global-window-ok justification "
        f"(partition it or annotate the bounded frame): {unannotated}"
    )


def _load_explain_audit():
    from staged_oracle import load_explain_audit

    return load_explain_audit()


def test_count_global_windows_unit():
    """The plan-level window counter must anchor on the TRAILING sort
    direction token, so a partition expression whose stringified form
    happens to contain ' ASC' is not misclassified (round-8 ADVICE)."""
    ea = _load_explain_audit()
    frame = "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
    # unpartitioned: single sort arg
    p1 = f"+- Window [row_number() windowspecdefinition(x#1 ASC NULLS FIRST, {frame})]"
    assert ea._count_global_windows(p1) == 1
    # partitioned: partition expr then sort expr
    p2 = (
        "+- Window [row_number() windowspecdefinition(grp#2, "
        f"x#1 DESC NULLS LAST, {frame})]"
    )
    assert ea._count_global_windows(p2) == 0
    # partition expr CONTAINING ' ASC' mid-string must still partition
    p3 = (
        "+- Window [count(1) windowspecdefinition(CASE WHEN name#3 = b ASC c "
        f"THEN 1 END, x#1 ASC NULLS FIRST, {frame})]"
    )
    assert ea._count_global_windows(p3) == 0
    # unordered unbounded global frame (zero args before the frame)
    p4 = f"+- Window [count(1) windowspecdefinition({frame})]"
    assert ea._count_global_windows(p4) == 1
    # two spec definitions on one Window node count the node once
    p5 = (
        "+- Window [row_number() windowspecdefinition(x#1 ASC NULLS FIRST, "
        f"{frame}), count(1) windowspecdefinition(x#1 ASC NULLS FIRST, {frame})]"
    )
    assert ea._count_global_windows(p5) == 1
    # non-Window lines never counted
    assert ea._count_global_windows("windowspecdefinition(x#1 ASC NULLS FIRST)") == 0
