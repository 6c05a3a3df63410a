

def test_range_bin_join_matches_theta_join(spark):
    """Binned range join == naive BETWEEN join, including interval
    boundaries (inclusive both ends) and intervals spanning many bins."""
    import pyspark.sql.functions as F

    from mqtt_streamr_spark.operators.joins import range_bin_join

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00", "2024-01-01 12:00:00"),
         (2, 10, "2024-01-01 23:30:00", "2024-01-02 00:30:00"),  # midnight
         (3, 20, "2024-01-01 10:00:00", "2024-01-01 10:00:00")],  # zero-width
        "iv_id long, k long, lo_s string, hi_s string",
    ).select("iv_id", "k", F.col("lo_s").cast("timestamp").alias("lo"),
             F.col("hi_s").cast("timestamp").alias("hi"))
    right = spark.createDataFrame(
        [(100, 10, "2024-01-01 10:00:00"),   # == lo boundary
         (101, 10, "2024-01-01 12:00:00"),   # == hi boundary
         (102, 10, "2024-01-01 12:00:01"),   # just outside
         (103, 10, "2024-01-02 00:00:00"),   # inside midnight interval
         (104, 20, "2024-01-01 10:00:00"),   # zero-width match
         (105, 30, "2024-01-01 11:00:00")],  # wrong key
        "ev_id long, k long, ts_s string",
    ).select("ev_id", "k", F.col("ts_s").cast("timestamp").alias("ts"))

    binned = {
        (r["iv_id"], r["ev_id"])
        for r in range_bin_join(left, right, "k", "lo", "hi", "ts",
                                bin_width_s=900).collect()
    }
    naive = {
        (r["iv_id"], r["ev_id"])
        for r in left.join(
            right,
            (left["k"] == right["k"])
            & right["ts"].between(left["lo"], left["hi"]),
        ).collect()
    }
    assert binned == naive
    assert (1, 100) in binned and (1, 101) in binned
    assert (1, 102) not in binned
    assert (2, 103) in binned and (3, 104) in binned


def test_sessionize_gap_boundaries(spark):
    """Gap EXACTLY equal to the threshold continues the session; anything
    strictly greater starts a new one. First row per key always opens
    session 1; keys are independent."""
    import pyspark.sql.functions as F

    from mqtt_streamr_spark.operators.joins import sessionize

    rows = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"),
         (1, "2024-01-01 10:30:00"),   # gap == 1800 s -> same session
         (1, "2024-01-01 11:00:01"),   # gap 1801 s -> new session
         (2, "2024-01-01 09:00:00")],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {
        (r["k"], str(r["ts"])): r["session_seq"]
        for r in sessionize(rows, "k", "ts", gap_s=1800).collect()
    }
    assert got[(1, "2024-01-01 10:00:00")] == 1
    assert got[(1, "2024-01-01 10:30:00")] == 1
    assert got[(1, "2024-01-01 11:00:01")] == 2
    assert got[(2, "2024-01-01 09:00:00")] == 1


def test_upsert_latest_wins_and_tie_break(spark):
    """Per key the greatest ts wins; on an exact ts tie the change batch
    wins (it is the later write); unmatched batch keys insert."""
    import datetime as dt

    from mqtt_streamr_spark.operators.merge import upsert

    d = dt.date
    snap = spark.createDataFrame(
        [(1, "a", d(2020, 1, 1)), (2, "b", d(2020, 1, 1)),
         (3, "c", d(2021, 5, 5))],
        "k long, v string, ts date",
    )
    chg = spark.createDataFrame(
        [(1, "a2", d(2021, 1, 1)),   # newer -> wins
         (2, "b2", d(2020, 1, 1)),   # tie -> batch wins
         (3, "c2", d(2019, 1, 1)),   # older -> loses
         (4, "dnew", d(2021, 1, 1))],  # insert
        "k long, v string, ts date",
    )
    got = {r["k"]: r["v"]
           for r in upsert(snap, chg, ["k"], "ts").collect()}
    assert got == {1: "a2", 2: "b2", 3: "c", 4: "dnew"}


def test_scd2_merge_all_branches(spark):
    """Change closes+reopens; no-op change spawns nothing; new key
    inserts with untracked attrs NULL; intra-batch dup takes latest;
    closed history passes through untouched."""
    import datetime as dt

    from mqtt_streamr_spark.operators.merge import scd2_merge

    d = dt.date
    snap = spark.createDataFrame(
        [  # closed history row for k=1, then open rows for k=1..3
            (1, "old", "n1", d(2010, 1, 1), d(2015, 1, 1)),
            (1, "cur", "n1", d(2015, 1, 1), None),
            (2, "keep", "n2", d(2015, 1, 1), None),
            (3, "same", "n3", d(2015, 1, 1), None),
        ],
        "k long, seg string, name string, valid_from date, valid_to date",
    )
    chg = spark.createDataFrame(
        [(1, "transient", d(2019, 6, 1)),  # discarded: older than next
         (1, "new", d(2020, 1, 1)),        # real change -> close + reopen
         (3, "same", d(2020, 1, 1)),       # no-op -> nothing
         (9, "fresh", d(2020, 1, 1))],     # insert, name must be NULL
        "k long, seg string, change_ts date",
    )
    rows = scd2_merge(snap, chg, "k", ["seg"], "change_ts").collect()
    versions = sorted(
        (r["k"], r["seg"], r["name"], str(r["valid_from"]),
         str(r["valid_to"])) for r in rows
    )
    assert versions == [
        (1, "cur", "n1", "2015-01-01", "2020-01-01"),  # closed now
        (1, "new", "n1", "2020-01-01", "None"),        # reopened, name kept
        (1, "old", "n1", "2010-01-01", "2015-01-01"),  # history untouched
        (2, "keep", "n2", "2015-01-01", "None"),       # untouched open
        (3, "same", "n3", "2015-01-01", "None"),       # no-op: ONE row
        (9, "fresh", None, "2020-01-01", "None"),      # insert
    ]


def test_upsert_tie_cols_value_based(spark):
    """With tie_cols, same-timestamp resolution is by VALUE (desc), not
    by side — fold order stops mattering (associativity for incremental
    application)."""
    import datetime as dt

    from mqtt_streamr_spark.operators.merge import upsert

    d = dt.date
    snap = spark.createDataFrame([(1, 9, d(2020, 1, 1))],
                                 "k long, v long, ts date")
    chg = spark.createDataFrame([(1, 5, d(2020, 1, 1))],
                                "k long, v long, ts date")
    # plain: batch wins the tie -> 5; tie_cols=[v]: highest value wins -> 9
    plain = upsert(snap, chg, ["k"], "ts").collect()[0]["v"]
    valued = upsert(snap, chg, ["k"], "ts", tie_cols=["v"]).collect()[0]["v"]
    assert (plain, valued) == (5, 9)


def test_symdel_fuzzy_join_covers_all_edit_types(spark):
    """Substitution, insertion, and deletion at distance 1 are all
    recovered (the SymSpell guarantee); a distance-2 pair is not; an
    exact duplicate joins at dist 0."""
    from mqtt_streamr_spark.operators.joins import symdel_fuzzy_join

    left = spark.createDataFrame(
        [(1, "kitten"), (2, "flour"), (3, "apple"), (4, "same")],
        "id long, name string",
    )
    right = spark.createDataFrame(
        [(10, "kitchen"),   # dist 2 from kitten -> excluded
         (11, "kittex"),    # substitution of kitten
         (12, "flours"),    # insertion into flour
         (13, "aple"),      # deletion from apple
         (14, "same")],     # exact
        "id long, name string",
    )
    got = {(r["l_key"], r["r_key"]): r["dist"]
           for r in symdel_fuzzy_join(left, right, "id", "id",
                                      "name", "name").collect()}
    assert got == {(1, 11): 1, (2, 12): 1, (3, 13): 1, (4, 14): 0}


def test_snapshot_diff_classifies_all_branches(spark):
    """added / removed / changed (incl. null-safe transitions) detected;
    unchanged keys dropped."""
    from mqtt_streamr_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40)],
        "k long, v string, x int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),        # unchanged -> dropped
         (2, "b", 20),        # NULL -> 20: changed (null-safe compare)
         (3, "zz", 30),       # changed
         (5, "e", 50)],       # added; 4 removed
        "k long, v string, x int",
    )
    got = {r["k"]: (r["change_type"], r["v"], r["x"])
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        2: ("changed", "b", 20),
        3: ("changed", "zz", 30),
        4: ("removed", None, None),
        5: ("added", "e", 50),
    }


def test_zorder_key_matches_python_interleave(spark):
    from mqtt_streamr_spark.operators.layout import zorder_key

    def interleave(vals, bits=8):
        z = 0
        for i in range(bits):
            for j, v in enumerate(vals):
                z |= ((v >> i) & 1) << (i * len(vals) + j)
        return z

    rows = [(3, 5), (0, 0), (255, 255), (7, 200)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = df.select("x", "y",
                    zorder_key(["x", "y"], bits=8).alias("z")).collect()
    for r in got:
        assert r["z"] == interleave([r["x"], r["y"]]), (r["x"], r["y"])


def test_write_zordered_files_have_tight_bounding_boxes(spark, tmp_path):
    """The layout claim itself: after a z-ordered write of a uniform
    2-D grid, every file's (x, y) bounding box covers a small fraction
    of the domain — so min/max zone maps prune files for selective
    filters on EITHER column. A 1-D sort of the same data leaves the
    non-sorted dimension's box at full width in every file."""
    import itertools

    import pyspark.sql.functions as F

    from mqtt_streamr_spark.operators.layout import write_zordered

    grid = spark.createDataFrame(
        list(itertools.product(range(64), range(64))), "x int, y int"
    )
    path = str(tmp_path / "zsorted")
    write_zordered(grid, path, ["x", "y"], bits=6, n_files=16)
    boxes = (
        spark.read.parquet(path)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg((F.max("x") - F.min("x")).alias("wx"),
             (F.max("y") - F.min("y")).alias("wy"))
        .collect()
    )
    assert len(boxes) >= 8
    # every file's box must span well under the full 0..63 domain in
    # BOTH dimensions (a 1-D sort leaves wy == 63 for every file)
    for b in boxes:
        assert b["wx"] <= 32 and b["wy"] <= 32, dict(b.asDict())


def test_ewma_hand_computed(spark):
    """e1=v1; e_n = a*v_n + (1-a)*e_{n-1}, rows ordered by ts with the
    order_cols tie-break."""
    import datetime as dt

    from mqtt_streamr_spark.operators.grouped import ewma_per_key

    t = dt.datetime
    df = spark.createDataFrame(
        [(1, t(2024, 1, 1), 2, 10.0),
         (1, t(2024, 1, 2), 3, 20.0),
         (1, t(2024, 1, 1), 1, 0.0),   # same-day tie -> id 1 first
         (2, t(2024, 1, 1), 4, 5.0)],
        "k long, ts timestamp, id long, v double",
    )
    out = ewma_per_key(df, "k", "ts", "v", alpha=0.5, order_cols=["id"])
    got = {(r["k"], r["id"]): r["ewma"] for r in out.collect()}
    # key 1 ordered: v=0 -> e=0; v=10 -> 5; v=20 -> 12.5
    assert got == {(1, 1): 0.0, (1, 2): 5.0, (1, 3): 12.5, (2, 4): 5.0}


def test_ewma_matches_pandas_ewm(spark):
    """Independent cross-check: the explicit recurrence equals
    pandas.ewm(adjust=False) on a longer random-ish series."""
    import datetime as dt

    import pandas as pd

    from mqtt_streamr_spark.operators.grouped import ewma_per_key

    t0 = dt.datetime(2024, 1, 1)
    vals = [((i * 37) % 100) / 7.0 for i in range(50)]
    rows = [(1, t0 + dt.timedelta(minutes=i), i, v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, id long, v double")
    got = [r["ewma"] for r in ewma_per_key(df, "k", "ts", "v", alpha=0.25,
                                           order_cols=["id"])
           .orderBy("id").collect()]
    want = pd.Series(vals).ewm(alpha=0.25, adjust=False).mean().tolist()
    assert all(abs(a - b) < 1e-9 for a, b in zip(got, want))


def test_ewma_final_matches_per_row_variant(spark):
    """ewma_final_per_key (single mapInPandas pass, r11) must produce
    exactly the per-key FINAL values of ewma_per_key (per-group
    applyInPandas) — same float op order, so exact equality, including
    when a key's rows span multiple Arrow batches (forced by a tiny
    maxRecordsPerBatch) and when a task holds many keys."""
    import datetime as dt

    from mqtt_streamr_spark.operators.grouped import (
        ewma_final_per_key,
        ewma_per_key,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    i = 0
    for k in range(7):           # several keys per partition
        for j in range(25):      # spans >1 batch at maxRecordsPerBatch=10
            rows.append((k, t0 + dt.timedelta(minutes=j), i,
                         ((i * 37) % 100) / 7.0))
            i += 1
    df = spark.createDataFrame(rows, "k long, ts timestamp, id long, v double")
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        got = {
            r["k"]: (r["n_events"], r["ewma_raw"])
            for r in ewma_final_per_key(
                df, "k", "ts", "v", alpha=0.3, order_cols=["id"]
            ).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)
    per_row = ewma_per_key(df, "k", "ts", "v", alpha=0.3, order_cols=["id"])
    import pyspark.sql.functions as F

    want = {
        r["k"]: (r["n"], r["fin"])
        for r in per_row.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("max_by(ewma, struct(ts, id))").alias("fin"),
        ).collect()
    }
    assert got == want  # exact float equality, not approx


def test_zorder_key_monotone_per_dimension(spark):
    """Bit-spreading is strictly increasing, so for a fixed other
    dimension the z-key is monotone in each input — the property that
    makes z-ranges usable as scan ranges."""
    from mqtt_streamr_spark.operators.layout import zorder_key

    rows = sorted({(x, 7) for x in range(16)} | {(7, y) for y in range(16)})
    df = spark.createDataFrame(rows, "x int, y int")
    got = df.select("x", "y", zorder_key(["x", "y"], bits=4).alias("z")) \
            .collect()
    xs = sorted([(r["x"], r["z"]) for r in got if r["y"] == 7])
    ys = sorted([(r["y"], r["z"]) for r in got if r["x"] == 7])
    assert all(a[1] < b[1] for a, b in zip(xs, xs[1:]))
    assert all(a[1] < b[1] for a, b in zip(ys, ys[1:]))


def test_snapshot_diff_identity_is_empty(spark):
    from mqtt_streamr_spark.operators.merge import snapshot_diff

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5)], "k long, v string, x int")
    assert snapshot_diff(df, df, ["k"]).count() == 0


def test_scd2_noop_batch_preserves_snapshot(spark):
    """A change batch restating current values exactly must return the
    snapshot unchanged — no phantom versions, no lost rows."""
    import datetime as dt

    from mqtt_streamr_spark.operators.merge import scd2_merge

    d = dt.date
    snap = spark.createDataFrame(
        [(1, "x", d(2010, 1, 1), d(2015, 1, 1)),
         (1, "y", d(2015, 1, 1), None),
         (2, "z", d(2015, 1, 1), None)],
        "k long, seg string, valid_from date, valid_to date",
    )
    chg = spark.createDataFrame(
        [(1, "y", d(2020, 1, 1)), (2, "z", d(2020, 1, 1))],
        "k long, seg string, change_ts date",
    )
    got = sorted(map(tuple, scd2_merge(
        snap, chg, "k", ["seg"], "change_ts").collect()))
    want = sorted(map(tuple, snap.collect()))
    assert got == want


def _write_events(spark, tmp_path, rows):
    """Write hand-crafted rows in the events table layout so registry
    queries can run on them via load()."""
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_forward_fill_carries_across_multiday_gap(spark, tmp_path):
    """LOCF semantics on hand-computable data: a 2-day observation gap is
    filled with the user's LAST reading of the preceding day (picked by
    ts DESC), and fill never crosses users."""
    import datetime as dt

    from mqtt_streamr_spark.queries.events import events_forward_fill_daily

    t = dt.datetime
    sf = _write_events(spark, tmp_path, [
        # user 1: two readings day 1 (last = 20.0), nothing day 2-3, day 4
        (1, t(2024, 3, 1, 9), 1, "m", 10.0, "{}"),
        (2, t(2024, 3, 1, 18), 1, "m", 20.0, "{}"),
        (3, t(2024, 3, 4, 8), 1, "m", 40.0, "{}"),
        # user 2: only day 2 — must not bleed into user 1's fill
        (4, t(2024, 3, 2, 12), 2, "m", 7.0, "{}"),
    ])
    got = {r["day"]: r for r in events_forward_fill_daily(spark, sf).collect()}
    assert got["2024-03-01"]["n_observed"] == 1   # one user observed
    assert got["2024-03-01"]["filled_total"] == 20.0  # last-of-day pick
    assert got["2024-03-02"]["n_carried"] == 1    # u1 carried, u2 observed
    assert got["2024-03-02"]["filled_total"] == 27.0  # 20 carried + 7 obs
    assert got["2024-03-03"]["n_carried"] == 1    # u1 still carried
    assert got["2024-03-03"]["filled_total"] == 20.0  # u2 span ended day 2
    assert got["2024-03-04"]["filled_total"] == 40.0


def test_session_concurrency_day_offset_carries_midnight_sessions(
        spark, tmp_path):
    """The two-phase sweep must carry the concurrency level ACROSS days:
    a session spanning midnight leaves day 2 starting at level 1, so day
    2's peak is 2 when a second session overlaps — a per-day-only cumsum
    would report 1."""
    import datetime as dt

    from mqtt_streamr_spark.queries.events import events_session_concurrency

    t = dt.datetime
    sf = _write_events(spark, tmp_path, [
        # u1 session [23:50, 00:20 next day)
        (1, t(2024, 3, 1, 23, 50), 1, "m", 1.0, "{}"),
        # u2 session [00:05, 00:35) overlaps u1's tail on day 2
        (2, t(2024, 3, 2, 0, 5), 2, "m", 1.0, "{}"),
    ])
    got = {r["day"]: r for r in
           events_session_concurrency(spark, sf).collect()}
    assert got["2024-03-01"]["peak_concurrency"] == 1
    assert got["2024-03-02"]["peak_concurrency"] == 2
    # change points: d1 has one (+1 at 23:50); d2 has three
    assert got["2024-03-01"]["n_change_points"] == 1
    assert got["2024-03-02"]["n_change_points"] == 3


def test_quantile_sketch_median_interpolates_within_bin(spark, tmp_path):
    """Hand-computed sketch median: 4 values in week bins [0,25) and
    [25,50) — the covering bin and the interpolated estimate must match
    the closed form lo + (0.5*total - cum_before)/n_bin * width."""
    import datetime as dt

    from mqtt_streamr_spark.queries.events import agg_quantile_sketch_weekly

    t = dt.datetime
    sf = _write_events(spark, tmp_path, [
        (1, t(2024, 3, 4, 1), 1, "m", 10.0, "{}"),   # bin 0
        (2, t(2024, 3, 5, 1), 1, "m", 12.0, "{}"),   # bin 0
        (3, t(2024, 3, 6, 1), 1, "m", 30.0, "{}"),   # bin 1
        (4, t(2024, 3, 7, 1), 1, "m", 49.0, "{}"),   # bin 1
    ])
    rows = agg_quantile_sketch_weekly(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_values"] == 4
    assert r["median_bin"] == 0          # cum(bin0)=2 >= 2, cum_before=0
    assert r["p50_est"] == 25.0          # 0 + (2-0)/2 * 25


# --- pagerank (operators/graph.py) ---

def _pagerank_reference(edges, iterations=3, d=0.85):
    """Pure-Python restatement of the operator's documented formula."""
    from collections import defaultdict
    out_w = defaultdict(float)
    agg = defaultdict(float)
    for s, t, w in edges:
        agg[(s, t)] += w
    for (s, _t), w in agg.items():
        out_w[s] += w
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = float(len(nodes))
    dangling = [v for v in nodes if out_w[v] == 0]
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = defaultdict(float)
        for (s, t), w in agg.items():
            contrib[t] += rank[s] * (w / out_w[s])
        dm = sum(rank[v] for v in dangling)
        rank = {v: (1.0 - d) / n + d * (contrib[v] + dm / n)
                for v in nodes}
    return rank


def test_pagerank_matches_reference_power_iteration(spark):
    from mqtt_streamr_spark.operators.graph import pagerank

    edges = [("a", "b", 1.0), ("a", "c", 3.0), ("b", "c", 1.0),
             ("c", "a", 1.0), ("d", "a", 2.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, weight="w", iterations=4).collect()}
    want = _pagerank_reference(edges, iterations=4)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def test_pagerank_dangling_mass_redistributed(spark):
    from mqtt_streamr_spark.operators.graph import pagerank

    # 'sink' has no out-edges: without redistribution, total rank leaks
    edges = [("a", "sink", 1.0), ("b", "sink", 1.0), ("a", "b", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    ranks = pagerank(df, weight="w", iterations=5).collect()
    total = sum(r["rank"] for r in ranks)
    assert abs(total - 1.0) < 1e-9
    want = _pagerank_reference(edges, iterations=5)
    for r in ranks:
        assert abs(r["rank"] - want[r["node"]]) < 1e-9


def test_pagerank_unweighted_default_and_parallel_edges(spark):
    from mqtt_streamr_spark.operators.graph import pagerank

    # duplicate rows act as weight-2 parallel edges under the default
    edges = [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()}
    want = _pagerank_reference([(s, t, 1.0) for s, t in edges], iterations=3)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9


# --- strict JSON completeness (operators/parsing.py) ---

def test_strict_json_complete_matches_js_json_parse(spark):
    """Exact parity with JS JSON.parse (the reference's validity oracle,
    bin:149-155) over the divergence-hunting corpus: trailing content,
    braces/escapes inside strings, bracket garbage tails, scalars,
    whitespace padding, NaN (JS-invalid, Python-json-valid), duplicate
    keys (JS-valid, last value wins), and the certificate's edges:
    escapes next to closers, nesting past its depth bound, line
    terminators Java's $ would accept, and payloads long enough to
    overflow a per-character recursive regex."""
    import json

    import pyspark.sql.functions as F

    from mqtt_streamr_spark.operators.parsing import strict_json_complete

    cases = [
        "0\n0", "1 2", "{}extra", "[1,2] x", "0", '{"a":1} {"b":2}',
        " 1 ", "1\t", '{ "a" : [1, 2] }', "1.50", '"s" "t"', '[1,\n2]',
        "", "  ", "true", "false ", "null", '"with \\"quote{ inside"',
        '{"s":"}{"}', '[[1],[2]]', '[ ]', '{ }', '{"a":1}}', '[1]]',
        '"unterminated', '{"a":1} "x', "NaN", "Infinity", "01",
        '[{"a":"b}"}]', '\t[1,2]\n', '{"a":1} x ]', '{"a":1} x {}',
        '{} "]"', '{"a":1}[', '{"a":1}]', '{} extra', "[1][2]",
        '{"a":1} }', "[]", "{}", '{"a":"x"}', '{"a":1} "x"}',
        # duplicate keys, flat and nested
        '{"a":1,"a":2}', '{"o":{"b":1,"b":[2]},"o":3}', '[{"k":0,"k":1}]',
        '{"a":1,"a":2} x',
        # an escaped backslash before a closing quote, then junk
        '{"a":"x\\\\"} "}', '{"a":"x\\\\"}',
        # an escaped closer, then a stray closer
        '{"a":"\\u007d"}}', '{"a":"\\u007d"}', '["\\u005d"]]',
        # brackets inside strings, then a tail
        '{"a":"[{"} x', '["]}",{"k":"{["}] 1', '{"s":"}{"} {"t":"]["}',
        '["[[[["]]',
        # depth 9: past the certificate, decided by the exact scan
        "[" * 9 + "1" + "]" * 9, "[" * 9 + "1" + "]" * 9 + " 1",
        "[" * 9 + "1" + "]" * 10, '{"a":' * 9 + "1" + "}" * 9,
        '{"a":' * 9 + '"}"' + "}" * 9 + " {}",
        # Java line terminators: not JSON whitespace, so not trimmed
        '"a"\u2028', "true\u2029", "{}\u0085", "1\u2028", "[1]\u2028",
        # long payloads: a 200k-element array and a 1 MB string
        "[" + ",".join(["1"] * 200_000) + "]",
        "[" + ",".join(['"a"'] * 200_000) + "] ]",
        '"' + "x" * 1_000_000 + '"', '{"s":"' + "x" * 1_000_000 + '"}',
        '["' + "x" * 1_000_000 + '"] 1',
    ]

    def js_ok(p):
        def rej(tok):
            raise ValueError(tok)

        try:
            json.loads(p, parse_constant=rej)
            return True
        except (ValueError, TypeError):
            return False

    df = spark.createDataFrame([(c,) for c in cases], "payload string")
    out = df.select(
        "payload",
        (F.try_parse_json("payload").isNotNull()
         & strict_json_complete(F.col("payload"))).alias("ok"),
    ).collect()
    bad = [
        (r["payload"][:80], bool(r["ok"]) if r["ok"] is not None else False,
         js_ok(r["payload"]))
        for r in out
        if (bool(r["ok"]) if r["ok"] is not None else False)
        != js_ok(r["payload"])
    ]
    assert not bad, bad


def test_cooccurrence_single_pass_matches_self_join_reference(spark):
    """r12: _cooccurrence_from_sessions (one grouped-entries aggregation +
    checkpointed metadata-sized counts) must be row-identical to the old
    five-derivation self-join reference, restated here over the same
    sessionized frame — including NULL event_type rows (they never pair,
    and their support row was only consumed by never-matching equi-joins)
    and sessions whose only type is NULL (they still count toward
    n_sessions)."""
    import pyspark.sql.functions as F

    from mqtt_streamr_spark.queries.events import _cooccurrence_from_sessions

    rows = [
        # user 1, session 0: a/b/c multi-type
        (1, 0, "a"), (1, 0, "b"), (1, 0, "c"), (1, 0, "a"),
        # user 1, session 1: repeat pair + a NULL type
        (1, 1, "a"), (1, 1, "b"), (1, 1, None),
        # user 2, session 0: single type
        (2, 0, "b"),
        # user 2, session 1: NULL-only session (counts toward n_sessions)
        (2, 1, None),
        # user 3, session 0: shares pair (a, c)
        (3, 0, "c"), (3, 0, "a"),
    ]
    s = spark.createDataFrame(
        rows, "user_id int, sid int, event_type string")

    st = s.select("user_id", "sid", "event_type").distinct()
    n_sessions = st.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions"))
    sup = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = st.select("user_id", "sid", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "sid", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "sid"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ref = (
        pairs.join(F.broadcast(
            sup.withColumnRenamed("event_type", "type_a")
            .withColumnRenamed("n", "n_a")), "type_a")
        .join(F.broadcast(
            sup.withColumnRenamed("event_type", "type_b")
            .withColumnRenamed("n", "n_b")), "type_b")
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "type_a", "type_b", "n_ab",
            F.round(F.col("n_ab") * F.col("n_sessions")
                    / (F.col("n_a") * F.col("n_b")), 6).alias("lift"),
        )
    )

    got = _cooccurrence_from_sessions(s)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))
    # spot-pin the numbers so both shapes failing together can't hide
    as_map = {(r.type_a, r.type_b): (r.n_ab, float(r.lift))
              for r in got.collect()}
    # 5 sessions; a: 3 sessions, b: 3, c: 2; (a,b) in 2, (a,c) in 2
    assert as_map[("a", "b")] == (2, round(2 * 5 / (3 * 3), 6))
    assert as_map[("a", "c")] == (2, round(2 * 5 / (3 * 2), 6))
    assert as_map[("b", "c")] == (1, round(1 * 5 / (3 * 2), 6))
