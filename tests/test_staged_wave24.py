"""Wave-24 catalog entries (plans/llm_ops23.py): python replays of the
Morton interleave + zone-map skipping and the segment-local run
counting, and the layout-story invariants (z-order skips on BOTH
dimensions; sorting collapses runs to the distinct count)."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops23  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def _events(duck):
    return duck.sql(
        "SELECT event_id, user_id % 256,"
        " (CAST(ts AS DATE) - DATE '2024-01-01')"
        " FROM events ORDER BY event_id"
    ).fetchall()


def _morton(cu: int, cd: int) -> int:
    z = 0
    for i in range(8):
        z |= ((cu >> i) & 1) << (2 * i)
        z |= ((cd >> i) & 1) << (2 * i + 1)
    return z


def _overlap(probe, box):
    min_cu, max_cu, min_cd, max_cd = box
    if probe == "point_user":
        return min_cu <= 7 <= max_cu
    if probe == "point_day":
        return min_cd <= 15 <= max_cd
    return min_cu <= 11 and max_cu >= 4 and min_cd <= 23 and max_cd >= 8


def test_zonemap_skipping_replay(spark, duck):
    rows = _REGISTRY["q312_zorder_skipping_benefit"].fn(spark, SF_DIR).collect()
    ev = [(eid, cu, cd % 256, _morton(cu, cd % 256)) for eid, cu, cd in _events(duck)]
    m = max(e[0] for e in ev)
    mc = max(e[1] for e in ev)
    mz = max(e[3] for e in ev)
    layouts = {
        "natural": lambda eid, cu, cd, zv: eid * 32 // (m + 1),
        "linear": lambda eid, cu, cd, zv: cu * 32 // (mc + 1),
        "zorder": lambda eid, cu, cd, zv: zv * 32 // (mz + 1),
    }
    for layout, fid in layouts.items():
        files: dict[int, list] = {}
        for eid, cu, cd, zv in ev:
            f = fid(eid, cu, cd, zv)
            box = files.get(f)
            if box is None:
                files[f] = [cu, cu, cd, cd, 1]
            else:
                box[0] = min(box[0], cu)
                box[1] = max(box[1], cu)
                box[2] = min(box[2], cd)
                box[3] = max(box[3], cd)
                box[4] += 1
        for probe in ("point_user", "point_day", "range_box"):
            r = next(
                x for x in rows if x.layout == layout and x.probe == probe
            )
            scanned = [b for b in files.values() if _overlap(probe, b[:4])]
            assert r.n_files == len(files)
            assert r.files_scanned == len(scanned)
            n_rows = sum(b[4] for b in files.values())
            rows_scanned = sum(b[4] for b in scanned)
            assert r.skip_ppm == (len(files) - len(scanned)) * 10**6 // len(files)
            assert (
                r.rows_skip_ppm
                == (n_rows - rows_scanned) * 10**6 // n_rows
            )
    # the layout story: z-order skips ROWS on both single-dim probes;
    # each linear layout is blind on its non-leading dimension
    by = {(r.layout, r.probe): r for r in rows}
    assert by[("linear", "point_user")].rows_skip_ppm > 0
    assert by[("zorder", "point_user")].rows_skip_ppm > 0
    assert by[("zorder", "point_day")].rows_skip_ppm >= 0
    assert by[("natural", "point_user")].rows_skip_ppm == 0


def test_rle_runs_replay(spark, duck):
    rows = {
        (r.col, r.layout): r
        for r in _REGISTRY["q313_rle_sortorder_benefit"].fn(spark, SF_DIR).collect()
    }
    ev = _events(duck)
    types = duck.sql(
        "SELECT event_type FROM events ORDER BY event_id"
    ).fetchall()
    days = [cd for _, _, cd in ev]
    ids = [eid for eid, _, _ in ev]

    def runs(vals):
        total, prev_seg, prev = 0, None, object()
        for eid, v in zip(ids, vals):
            seg = eid // 65536
            if seg != prev_seg or v != prev:
                total += 1
            prev_seg, prev = seg, v
        return total

    tvals = [t for (t,) in types]
    assert rows[("event_type", "natural")].runs == runs(tvals)
    assert rows[("event_type", "sorted")].runs == len(set(tvals))
    assert rows[("day", "natural")].runs == runs(days)
    assert rows[("day", "sorted")].runs == len(set(days))
    def trunc_div(a: int, b: int) -> int:
        # both engines' integer division truncates toward zero
        # (python's // floors — differs on the negative savings rows)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    for r in rows.values():
        assert r.savings_ppm == trunc_div(
            (r.plain_bytes - r.rle_bytes) * 10**6, r.plain_bytes
        )
    # sorting can only reduce (or keep) the run count
    assert (
        rows[("event_type", "sorted")].runs
        <= rows[("event_type", "natural")].runs
    )
    assert rows[("day", "sorted")].runs <= rows[("day", "natural")].runs
