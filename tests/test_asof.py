"""As-of join and banded range join: tie semantics (inclusive vs strict),
unmatched-left NULLs, band edge inclusion/exclusion, and the single-shuffle
plan shape of the union-marker as-of form."""

from duckdb_title_mapper_spark.operators.asof import asof_join, range_join_count


def _df(spark, cols, rows):
    vals = ", ".join("(" + ", ".join(str(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM (VALUES {vals}) AS t({', '.join(cols)})")


def _left(spark):
    return _df(spark, ["k", "lt", "lid"], [(1, 10, 100), (1, 20, 200),
                                           (1, 5, 300), (2, 50, 400)])


def _right(spark):
    # key 1 has rights at t=7,20; key 2 has none; key 3 unmatched on left
    return _df(spark, ["k", "rt", "rid"], [(1, 7, 70), (1, 20, 71),
                                           (3, 1, 72)])


def test_asof_inclusive_picks_latest_at_or_before(spark):
    out = {
        r["lid"]: (r["rid"], r["asof_ts"])
        for r in asof_join(
            _left(spark), _right(spark), on="k", left_ts="lt",
            right_ts="rt", right_payload="rid",
        ).collect()
    }
    assert out[100] == (70, 7)    # lt=10: rt=7 is latest <= 10
    assert out[200] == (71, 20)   # lt=20: exact tie matches (inclusive)
    assert out[300] == (None, None)  # lt=5: nothing at-or-before
    assert out[400] == (None, None)  # key 2: no right rows at all


def test_asof_strict_excludes_exact_tie(spark):
    out = {
        r["lid"]: r["rid"]
        for r in asof_join(
            _left(spark), _right(spark), on="k", left_ts="lt",
            right_ts="rt", right_payload="rid", inclusive=False,
        ).collect()
    }
    assert out[200] == 70  # rt=20 excluded under strict <, falls back to 7


def test_asof_forward_picks_earliest_at_or_after(spark):
    def run(inclusive):
        return {
            r["lid"]: (r["rid"], r["asof_ts"])
            for r in asof_join(
                _left(spark), _right(spark), on="k", left_ts="lt",
                right_ts="rt", right_payload="rid", inclusive=inclusive,
                direction="forward",
            ).collect()
        }

    out = run(True)
    assert out[100] == (71, 20)   # lt=10: rt=20 is earliest >= 10
    assert out[200] == (71, 20)   # lt=20: exact tie matches (inclusive)
    assert out[300] == (70, 7)    # lt=5: rt=7 is earliest >= 5
    assert out[400] == (None, None)  # key 2: no right rows at all
    assert run(False)[200] == (None, None)  # strict >: nothing after 20


def test_asof_single_shuffle(spark):
    plan = asof_join(
        _left(spark), _right(spark), on="k", left_ts="lt",
        right_ts="rt", right_payload="rid",
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_range_join_band_edges(spark):
    # band (pt-10, pt]: build at exactly pt-10 excluded, at pt included
    probe = _df(spark, ["k", "pt", "pid"], [(1, 100, 1)])
    build = _df(spark, ["k", "bt"],
                [(1, 90), (1, 91), (1, 100), (1, 101), (2, 95)])
    rows = range_join_count(
        probe, build, on="k", probe_ts="pt", build_ts="bt", band=10,
    ).collect()
    assert len(rows) == 1
    assert rows[0]["n_in_band"] == 2  # 91 and 100; not 90, 101, or key 2


def test_range_join_inner_drops_empty(spark):
    probe = _df(spark, ["k", "pt", "pid"], [(1, 100, 1), (2, 100, 2)])
    build = _df(spark, ["k", "bt"], [(1, 95)])
    rows = range_join_count(
        probe, build, on="k", probe_ts="pt", build_ts="bt", band=10,
    ).collect()
    assert [(r["pid"], r["n_in_band"]) for r in rows] == [(1, 1)]


def test_range_join_negative_ts_floor_bucketing(spark):
    # floor (not trunc-toward-zero) bucketing: band (-7, 3] straddles zero;
    # -5 lives in bucket -1, which trunc-toward-zero would misplace at 0
    probe = _df(spark, ["k", "pt", "pid"], [(1, 3, 1)])
    build = _df(spark, ["k", "bt"], [(1, -5), (1, -8)])
    rows = range_join_count(
        probe, build, on="k", probe_ts="pt", build_ts="bt", band=10,
    ).collect()
    assert rows[0]["n_in_band"] == 1  # -5 only; -8 <= -7 is out of band
