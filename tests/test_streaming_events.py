"""Streaming event analytics over the SketchStore ledger
(streaming/events.py): WAU and funnel counters maintained across
micro-batches, redeliveries, and injected crashes must CONVERGE TO
THE BATCH ANSWER — the q233 exactly-once contract extended to the
event family."""

import datetime

from pyspark.sql import functions as F

from dbms_spark.operators import events as E
from dbms_spark.streaming import cdc as CDC
from dbms_spark.streaming import events as SE

BASE = datetime.datetime(2024, 1, 1)


def _persisted(spark) -> set:
    """Ids of the RDDs the session holds cached or checkpointed."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, BASE + datetime.timedelta(seconds=s), t, i)
         for i, (u, s, t) in enumerate(rows)],
        "user_id long, ts timestamp, event_type string, event_id long")


def _time_batches(rows, cuts):
    """Split rows into time-ordered batches at the cut offsets —
    the resolvedTs flush contract the funnel store requires."""
    bounds = [float("-inf"), *cuts, float("inf")]
    return [[r for r in rows if lo <= r[1] < hi]
            for lo, hi in zip(bounds, bounds[1:])]


ROWS = [
    # u1 full funnel spread across batches (cascade ACROSS batches)
    (1, 10, "view"), (1, 40_000, "click"), (1, 90_000, "purchase"),
    # u2 full funnel inside one batch (cascade WITHIN a batch)
    (2, 40_100, "view"), (2, 40_200, "click"), (2, 40_300, "purchase"),
    # u3 wrong order: click before view — never advances past view
    (3, 20, "click"), (3, 30, "view"),
    # u4 view only, active on two days
    (4, 50, "view"), (4, 100_000, "view"),
    # u5 late-night activity in the last batch only
    (5, 170_000, "click"),
]
CUTS = [30_000, 120_000]
STEPS = ["view", "click", "purchase", "zzabsent"]


def test_wau_store_converges_with_redelivery(spark, tmp_path):
    store = SE.active_days_store(spark, str(tmp_path / "wau"))
    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        store.apply_batch(_ev(spark, batch), batch_id=i)
        if i == 1:  # crash-and-redeliver: must be a no-op
            store.apply_batch(_ev(spark, batch), batch_id=i)
    got = sorted(tuple(r) for r in SE.wau_from_store(store, days=7).collect())
    want = sorted(tuple(r)
                  for r in E.rolling_active(_ev(spark, ROWS),
                                            days=7).collect())
    assert got == want


def test_wau_store_exact_under_out_of_order_batches(spark, tmp_path):
    """Set-union state: REVERSED batch order still converges (the
    active-days ledger needs no ordering contract)."""
    store = SE.active_days_store(spark, str(tmp_path / "wau_ooo"))
    for i, batch in enumerate(reversed(_time_batches(ROWS, CUTS))):
        store.apply_batch(_ev(spark, batch), batch_id=i)
    got = sorted(tuple(r) for r in SE.wau_from_store(store, days=7).collect())
    want = sorted(tuple(r)
                  for r in E.rolling_active(_ev(spark, ROWS),
                                            days=7).collect())
    assert got == want


def test_funnel_store_converges_to_batch_funnel(spark, tmp_path):
    store = SE.funnel_store(spark, str(tmp_path / "fun"), STEPS)
    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        store.apply_batch(_ev(spark, batch), batch_id=i)
    got = sorted(tuple(r) for r in
                 SE.funnel_counts_from_store(store, STEPS).collect())
    want = sorted(tuple(r) for r in
                  E.funnel(_ev(spark, ROWS), STEPS).collect())
    assert got == want
    # zero row for the absent step survives the store roundtrip
    assert (3, "zzabsent", 0) in got
    # state is key-bounded: one row per key per reached step
    state = store.read().collect()
    assert len(state) == len({(r.user_id, r.step) for r in state})


def test_funnel_store_duplicate_step_types(spark, tmp_path):
    """A type listed at several step positions advances each of them
    (regression pin for the single-pass advance: batch events must be
    tagged multi-hot, not first-match)."""
    steps = ["view", "click", "view"]
    store = SE.funnel_store(spark, str(tmp_path / "fun_dup"), steps)
    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        store.apply_batch(_ev(spark, batch), batch_id=i)
    got = sorted(tuple(r) for r in
                 SE.funnel_counts_from_store(store, steps).collect())
    want = sorted(tuple(r) for r in
                  E.funnel(_ev(spark, ROWS), steps).collect())
    assert got == want


def test_funnel_store_hot_key_guard_matches_fold(spark, tmp_path):
    """hot_key_events=0 routes every batch key through the
    chained-window advance (state seeds included); the maintained
    state must equal both the unguarded store and the batch funnel."""
    store = SE.funnel_store(spark, str(tmp_path / "fun_hot"), STEPS,
                            hot_key_events=0)
    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        store.apply_batch(_ev(spark, batch), batch_id=i)
    got = sorted(tuple(r) for r in
                 SE.funnel_counts_from_store(store, STEPS).collect())
    want = sorted(tuple(r) for r in
                  E.funnel(_ev(spark, ROWS), STEPS).collect())
    assert got == want
    ref = SE.funnel_store(spark, str(tmp_path / "fun_ref"), STEPS,
                          hot_key_events=None)
    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        ref.apply_batch(_ev(spark, batch), batch_id=i)
    assert (sorted(map(tuple, store.read().collect()))
            == sorted(map(tuple, ref.read().collect())))


def test_funnel_store_crash_soak(spark, tmp_path, monkeypatch):
    """Injected crash between snapshot write and manifest commit on
    EVERY batch, followed by redelivery: state must converge to the
    batch funnel anyway (the ``manifest.json`` replace is the single
    atomic commit point, so each crashed apply leaves the previous
    state intact and the retry applies exactly once)."""
    import os as _os

    store = SE.funnel_store(spark, str(tmp_path / "soak"), STEPS)
    real_replace = _os.replace

    def crashing_replace(src, dst):
        if dst.endswith("manifest.json"):
            raise OSError("simulated crash before manifest commit")
        return real_replace(src, dst)

    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        bdf = _ev(spark, batch)
        monkeypatch.setattr(CDC.os, "replace", crashing_replace)
        pinned = _persisted(spark)
        try:
            store.apply_batch(bdf, batch_id=i)
        except OSError:
            pass
        monkeypatch.setattr(CDC.os, "replace", real_replace)
        assert store.last_batch_id() == i - 1  # crash left old marker
        store.apply_batch(bdf, batch_id=i)     # redelivery commits
        assert store.last_batch_id() == i
        assert _persisted(spark) <= pinned     # nothing left pinned
    got = sorted(tuple(r) for r in
                 SE.funnel_counts_from_store(store, STEPS).collect())
    want = sorted(tuple(r) for r in
                  E.funnel(_ev(spark, ROWS), STEPS).collect())
    assert got == want


def test_funnel_store_anchor_times_match_batch(spark, tmp_path):
    """Beyond counts: the per-key ANCHOR CHAIN equals the batch
    funnel's intermediate anchors (pinning first-touch semantics
    through the store, not just cardinalities)."""
    store = SE.funnel_store(spark, str(tmp_path / "anchors"),
                            ["view", "click"])
    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        store.apply_batch(_ev(spark, batch), batch_id=i)
    got = {(r.user_id, r.step): r.anchor for r in store.read().collect()}
    # batch model: step-0 anchor = first view; step-1 = first click
    # strictly after it
    df = _ev(spark, ROWS)
    v = {r.user_id: r.a for r in
         df.filter("event_type = 'view'").groupBy("user_id")
         .agg(F.min("ts").alias("a")).collect()}
    c = {r.user_id: r.a for r in
         df.filter("event_type = 'click'").join(
             spark.createDataFrame([(k, a) for k, a in v.items()],
                                   "user_id long, anchor timestamp"),
             "user_id")
         .filter("ts > anchor").groupBy("user_id")
         .agg(F.min("ts").alias("a")).collect()}
    want = {(u, 0): a for u, a in v.items()}
    want.update({(u, 1): a for u, a in c.items()})
    assert got == want


def test_last_seen_store_out_of_order_and_redelivery(spark, tmp_path):
    """Max-merge liveness ledger: REVERSED batches + a redelivered
    batch converge to the one-shot grouped max; offline screen flags
    exactly the stale keys with whole-second ages."""
    store = SE.last_seen_store(spark, str(tmp_path / "seen"))
    for i, batch in enumerate(reversed(_time_batches(ROWS, CUTS))):
        store.apply_batch(_ev(spark, batch), batch_id=i)
        if i == 0:
            store.apply_batch(_ev(spark, batch), batch_id=i)  # redelivery
    got = {r.user_id: r.last_seen for r in store.read().collect()}
    want = {r.user_id: r.m for r in
            _ev(spark, ROWS).groupBy("user_id")
            .agg(F.max("ts").alias("m")).collect()}
    assert got == want
    from dbms_spark.operators.events import offline_keys
    off = {r.user_id: r.silent_seconds for r in offline_keys(
        store.read(), "2024-01-03 00:00:00",
        threshold_seconds=86400).collect()}
    # offline = last event before Jan 2 00:00 (86400 s): u2 (40300)
    # and u3 (30); u1 (90000), u4 (100000), u5 (170000) are within
    # the trailing day
    assert set(off) == {2, 3}
    for u, s in off.items():
        assert s == 2 * 86400 - max(
            sec for uu, sec, _ in ROWS if uu == u)


def test_attribution_store_converges_and_crash_soak(spark, tmp_path,
                                                    monkeypatch):
    """Last-touch credit counters folded over time-ordered batches
    (with a stored touch crossing the batch boundary, a lookback-
    stale touch, and an organic conversion) must equal the one-shot
    attribution's per-type counts — including under an injected
    crash + redelivery on every batch."""
    import os as _os

    rows = [
        # u1: touch in batch 1, conversion in batch 2 (cross-boundary)
        (1, 10, "click"), (1, 40_000, "purchase"),
        # u2: view then a NEWER click wins (last-touch, same batch)
        (2, 40_100, "view"), (2, 40_200, "click"), (2, 40_300, "purchase"),
        # u3: organic conversion (no touch ever)
        (3, 50_000, "purchase"),
        # u4: touch too old for the lookback -> organic
        (4, 20, "view"), (4, 150_000, "purchase"),
        # u5: two conversions credit the same stored touch
        (5, 25_000, "click"), (5, 130_000, "purchase"),
        (5, 140_000, "purchase"),
    ]
    look = 100_000
    store = SE.attribution_store(
        spark, str(tmp_path / "attr"), "purchase", ["view", "click"],
        lookback_seconds=look, tiebreak=["event_id"])
    real_replace = _os.replace

    def crashing_replace(src, dst):
        if dst.endswith("manifest.json"):
            raise OSError("simulated crash before manifest commit")
        return real_replace(src, dst)

    for i, batch in enumerate(_time_batches(rows, CUTS)):
        bdf = _ev(spark, batch)
        monkeypatch.setattr(CDC.os, "replace", crashing_replace)
        pinned = _persisted(spark)
        try:
            store.apply_batch(bdf, batch_id=i)
        except OSError:
            pass
        monkeypatch.setattr(CDC.os, "replace", real_replace)
        store.apply_batch(bdf, batch_id=i)     # redelivery commits
        store.apply_batch(bdf, batch_id=i)     # second redelivery no-op
        assert _persisted(spark) <= pinned     # nothing left pinned
    got = {r.touch_type: r.n for r in
           SE.attribution_counts_from_store(store).collect()}
    one_shot = E.attribute_conversions(
        _ev(spark, rows), "purchase", ["view", "click"],
        lookback_seconds=look, tiebreak=["event_id"])
    want = {r.touch_type: r.n for r in
            one_shot.groupBy("touch_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")).collect()}
    assert got == want
    # hand model: u1 click (39,990 s lag), u2 click (newest wins);
    # organic = u3 (never touched), u4 (touch older than lookback),
    # u5 x2 (105 ks and 115 ks after its click -> both stale)
    assert got[None] == 4
    assert got["click"] == 2
    assert got.get("view") is None


def test_session_store_long_session_and_crash_soak(spark, tmp_path,
                                                   monkeypatch):
    """Session ledger folded over time-ordered batches equals the
    one-shot sessionize stats — including a session LONGER than the
    gap (endpoint pseudo-pairs must not re-split), a session
    extended across a batch boundary, and injected crashes +
    redeliveries on every batch."""
    import os as _os

    gap_m = 30                      # 1800 s
    rows = [
        # u1: one long session, events every 1000 s for 25 ks (span
        # >> gap), all in batch 1; extended at the boundary by batch
        # 2's first event 1500 s after the last
        *[(1, s, "view") for s in range(0, 25_001, 1000)],
        (1, 31_000, "view"),                 # batch 2: 6 ks later -> NEW
        # u2: two sessions split inside batch 2
        (2, 40_000, "view"), (2, 40_500, "click"), (2, 45_000, "view"),
        # u3: session extended across the second cut (120k): last
        # batch-2 event 119_500, batch-3 event 120_600 -> 1100 s gap
        (3, 119_000, "view"), (3, 119_500, "view"), (3, 120_600, "view"),
    ]
    store = SE.session_store(spark, str(tmp_path / "sess"),
                             gap_minutes=gap_m)
    real_replace = _os.replace

    def crashing_replace(src, dst):
        if dst.endswith("manifest.json"):
            raise OSError("simulated crash before manifest commit")
        return real_replace(src, dst)

    for i, batch in enumerate(_time_batches(rows, CUTS)):
        bdf = _ev(spark, batch)
        monkeypatch.setattr(CDC.os, "replace", crashing_replace)
        pinned = _persisted(spark)
        try:
            store.apply_batch(bdf, batch_id=i)
        except OSError:
            pass
        monkeypatch.setattr(CDC.os, "replace", real_replace)
        store.apply_batch(bdf, batch_id=i)
        store.apply_batch(bdf, batch_id=i)     # redelivery no-op
        assert _persisted(spark) <= pinned     # nothing left pinned
    got = sorted(tuple(r) for r in
                 SE.session_stats_from_store(store).collect())
    from dbms_spark.operators.joins import sessionize
    ep = F.col("ts").cast("timestamp").cast("long")
    want = sorted(tuple(r) for r in
                  sessionize(_ev(spark, rows), "user_id", "ts",
                             gap_minutes=gap_m, tiebreak=["event_id"])
                  .groupBy("user_id", "session_id")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                       (F.max(ep) - F.min(ep)).cast("bigint")
                       .alias("duration_seconds")).collect())
    assert got == want
    # the long session survived the fold intact: u1 has exactly 2
    # sessions (26 events spanning 25 ks, then the 31 ks singleton)
    u1 = [t for t in got if t[0] == 1]
    assert [(t[2], t[3]) for t in u1] == [(26, 25_000), (1, 0)]


def test_day_ledger_pruned_rewrites_and_equality(spark, tmp_path):
    """The day-bucketed active-days ledger must (a) equal the
    full-snapshot store's relation after the same batches, (b) REWRITE
    only the batch's day buckets — untouched buckets keep their exact
    manifest paths across commits — and (c) no-op on redelivery."""
    led = SE.ActiveDaysDayLedger(spark, str(tmp_path / "day"))
    full = SE.active_days_store(spark, str(tmp_path / "snap"))
    batches = _time_batches(ROWS, CUTS)
    for i, batch in enumerate(batches):
        bdf = _ev(spark, batch)
        if i == 1:
            before = dict(led._read_manifest(led.TABLE)["buckets"])
        led.apply_batch(bdf, batch_id=i)
        full.apply_batch(bdf, batch_id=i)
        if i == 1:
            after = led._read_manifest(led.TABLE)["buckets"]
            base_ep = int(BASE.replace(
                tzinfo=datetime.timezone.utc).timestamp())
            batch_buckets = {str((base_ep + s) // 86400)
                             for (_, s, _) in batch}
            for b, rel in before.items():
                if b not in batch_buckets:
                    assert after[b] == rel, f"untouched bucket {b} rewritten"
            assert any(after[b] != before.get(b) for b in batch_buckets
                       if b in after)
    led.apply_batch(_ev(spark, batches[1]), batch_id=1)  # redelivery
    got = sorted(tuple(r) for r in led.read().collect())
    want = sorted(tuple(r) for r in full.read().collect())
    assert got == want
    # and the WAU read composes identically
    a = sorted(tuple(r) for r in SE.wau_from_store(led).collect())
    b = sorted(tuple(r) for r in SE.wau_from_store(full).collect())
    assert a == b


def test_day_ledger_crash_soak(spark, tmp_path, monkeypatch):
    """Injected crash at the manifest replace (the single commit
    point) on every batch: state must stay at the previous consistent
    snapshot, and the redelivered apply must commit exactly once."""
    import os as _os

    led = SE.ActiveDaysDayLedger(spark, str(tmp_path / "soakday"))
    real_replace = _os.replace

    def crashing_replace(src, dst):
        if dst.endswith("manifest.json"):
            raise OSError("simulated crash at manifest commit")
        return real_replace(src, dst)

    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        bdf = _ev(spark, batch)
        monkeypatch.setattr(CDC.os, "replace", crashing_replace)
        try:
            led.apply_batch(bdf, batch_id=i)
        except OSError:
            pass
        monkeypatch.setattr(CDC.os, "replace", real_replace)
        assert led.last_batch_id() == i - 1   # crash left old marker
        led.apply_batch(bdf, batch_id=i)      # redelivery commits
        assert led.last_batch_id() == i
    got = sorted(tuple(r) for r in led.read().collect())
    want = sorted(tuple(r) for r in
                  E.active_days(_ev(spark, ROWS)).collect())
    assert got == want


def test_session_day_ledger_matches_snapshot_store(spark, tmp_path):
    """SessionDayLedger == session_store relation after the same
    batches (incl. a cross-batch session extension and a session
    longer than the gap); buckets outside gap-reach of a batch keep
    their exact manifest paths; redelivery no-ops."""
    rows = [
        *[(1, s, "view") for s in range(0, 25_001, 1000)],  # long sess
        (1, 31_000, "view"),
        (2, 25_000, "view"),                 # ends batch 1
        (2, 121_000, "view"),                # far later: new session
        (3, 119_000, "view"), (3, 120_600, "view"),  # extends over cut
    ]
    cuts = [30_000, 120_000]
    led = SE.SessionDayLedger(spark, str(tmp_path / "sled"),
                              gap_minutes=30)
    snap = SE.session_store(spark, str(tmp_path / "ssnap"),
                            gap_minutes=30)
    batches = _time_batches(rows, cuts)
    for i, batch in enumerate(batches):
        bdf = _ev(spark, batch)
        if i == 2:
            before = dict(led._read_manifest(led.TABLE)["buckets"])
        led.apply_batch(bdf, batch_id=i)
        snap.apply_batch(bdf, batch_id=i)
        if i == 2:
            # batch 3 spans offsets >= 120_000 (day 1): the day-0
            # bucket holding batch-1 sessions is beyond gap reach and
            # must keep its exact path
            after = led._read_manifest(led.TABLE)["buckets"]
            base_ep = int(BASE.replace(
                tzinfo=datetime.timezone.utc).timestamp())
            day0 = str(base_ep // 86400)
            assert after[day0] == before[day0]
    led.apply_batch(_ev(spark, batches[1]), batch_id=1)   # redelivery
    got = sorted(tuple(r) for r in led.read().collect())
    want = sorted(tuple(r) for r in snap.read().collect())
    assert got == want
    # read verb composes: same per-session stats off either store
    a = sorted(tuple(r) for r in
               SE.session_stats_from_store(led).collect())
    c = sorted(tuple(r) for r in
               SE.session_stats_from_store(snap).collect())
    assert a == c


def test_session_store_subsecond_boundary_tie(spark, tmp_path):
    """A stored session whose span exceeds the gap, whose END ties the
    next batch's first event at TRUNCATED-epoch precision (raw
    timestamps straddle the batch cut within one second): the fold
    must extend the session exactly as the one-shot does — nulls-
    first ordering would interpose the batch row between the
    session's endpoint pair and re-split it into a phantom row."""
    import datetime as dt

    from dbms_spark.operators.joins import sessionize

    def ev(rows):
        return spark.createDataFrame(
            [(u, BASE + dt.timedelta(seconds=s), "a", i)
             for i, (u, s) in enumerate(rows)],
            "user_id long, ts timestamp, event_type string,"
            " event_id long")

    # chained every 50 s for 150 s (span 150 > gap 60); last event at
    # 150.4 s, batch-2 first event at 150.6 s — both truncate to 150
    rows1 = [(1, 0.0), (1, 50.0), (1, 100.0), (1, 150.4)]
    rows2 = [(1, 150.6), (1, 160.0)]
    store = SE.session_store(spark, str(tmp_path / "tie"),
                             gap_minutes=1)
    store.apply_batch(ev(rows1), batch_id=0)
    store.apply_batch(ev(rows2), batch_id=1)
    got = sorted(tuple(r) for r in store.read().collect())
    ep = F.col("ts").cast("timestamp").cast("long")
    want = sorted(tuple(r) for r in
                  sessionize(ev(rows1 + rows2), "user_id", "ts",
                             gap_minutes=1, tiebreak=["event_id"])
                  .groupBy("user_id")
                  .agg(F.min(ep).alias("s_ep"), F.max(ep).alias("e_ep"),
                       F.count(F.lit(1)).alias("n")).collect())
    assert got == want                     # ONE session, n = 6
    base_ep = int(BASE.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert got == [(1, base_ep, base_ep + 160, 6)]


def test_day_ledger_null_day_row_dedups_across_batches(spark, tmp_path):
    """A (key, NULL-day) row (NULL-ts event surviving the activity
    dedup) must behave as a set element: re-appearing in later batches
    may not re-append it — the anti-join must be null-safe (plain
    equality never matches NULL = NULL and grew one duplicate per
    redelivering batch)."""
    led = SE.DayBucketLedger(spark, str(tmp_path / "nulld"),
                             schema="user_id long, day timestamp",
                             key_cols=["user_id", "day"])
    delta = spark.createDataFrame(
        [(7, None), (8, BASE)], "user_id long, day timestamp")
    led.upsert_day_rows(delta, batch_id=0)
    led.upsert_day_rows(delta, batch_id=1)   # same rows, NEW batch id
    led.upsert_day_rows(delta, batch_id=1)   # plus a true redelivery
    got = sorted((r["user_id"], r["day"]) for r in led.read().collect())
    assert got == [(7, None), (8, BASE)]     # exactly once each


def test_session_day_ledger_far_future_timestamp_bounded(spark, tmp_path):
    """One corrupt far-future event (year ~2524) must not make the
    apply enumerate every day bucket between the batch's min and max —
    touched buckets derive from the sessions the fold actually
    produced, so the manifest gains ONE far bucket and the fold result
    still equals the one-shot sessionization."""
    import datetime as dt

    led = SE.SessionDayLedger(spark, str(tmp_path / "far"),
                              gap_minutes=30)
    far = int(dt.timedelta(days=500 * 365).total_seconds())
    rows = [(1, 0, "view"), (1, 600, "view"), (2, far, "view")]
    led.apply_batch(_ev(spark, rows), batch_id=0)
    led.apply_batch(_ev(spark, [(1, 1200, "view")]), batch_id=1)
    buckets = led._read_manifest(led.TABLE)["buckets"]
    assert len(buckets) == 2                 # day 0 + the one far day
    got = sorted(tuple(r) for r in led.read().collect())
    base_ep = int(BASE.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert got == [(1, base_ep, base_ep + 1200, 3),
                   (2, base_ep + far, base_ep + far, 1)]


def test_attribution_day_ledger_matches_snapshot_store(spark, tmp_path):
    """AttributionDayLedger counts == attribution_store counts ==
    one-shot attribution after the same time-ordered batches (incl. a
    redelivery); deduped lasts match the snapshot store's last-touch
    rows; buckets beyond lookback reach keep their exact manifest
    paths across an apply; finite lookback is enforced."""
    import pytest as _pytest

    lookback = 3600                        # 1 h window
    rows = [
        (1, 10, "view"), (1, 500, "click"), (1, 900, "purchase"),
        (2, 20, "click"), (2, 200_000, "purchase"),   # out of window
        (3, 199_000, "view"), (3, 200_500, "purchase"),  # cross-batch
        (4, 30, "view"),                   # touch only, goes stale
        (3, 260_000, "view"),
    ]
    cuts = [30_000, 200_200]
    led = SE.AttributionDayLedger(
        spark, str(tmp_path / "aled"), "purchase", ["view", "click"],
        lookback_seconds=lookback, tiebreak=["event_id"])
    snap = SE.attribution_store(
        spark, str(tmp_path / "asnap"), "purchase", ["view", "click"],
        lookback_seconds=lookback, tiebreak=["event_id"])
    batches = _time_batches(rows, cuts)
    for i, batch in enumerate(batches):
        bdf = _ev(spark, batch)
        if i == 2:
            before = dict(led._read_manifest(led.TABLE)["buckets"])
        led.apply_batch(bdf, batch_id=i)
        snap.apply_batch(bdf, batch_id=i)
        if i == 2:
            # batch 3 spans >= 200_200 s (day 2): day-0 buckets are
            # beyond the 1 h reach and must keep their exact paths
            after = led._read_manifest(led.TABLE)["buckets"]
            base_ep = int(BASE.replace(
                tzinfo=datetime.timezone.utc).timestamp())
            day0 = str(base_ep // 86400)
            assert after[day0] == before[day0]
    led.apply_batch(_ev(spark, batches[1]), batch_id=1)   # redelivery
    got = sorted(((r["touch_type"] or ""), r["n"]) for r in led.counts().collect())
    want = sorted(((r["touch_type"] or ""), r["n"]) for r in
                  SE.attribution_counts_from_store(snap).collect())
    assert got == want
    one = sorted(((r["touch_type"] or ""), r["n"]) for r in
                 E.attribute_conversions(
                     _ev(spark, rows), "purchase", ["view", "click"],
                     lookback_seconds=lookback, tiebreak=["event_id"])
                 .groupBy("touch_type").agg(F.count(F.lit(1)).alias("n"))
                 .collect())
    assert got == one
    # deduped lasts == snapshot store's per-key last-touch rows
    lg = sorted(tuple(r) for r in led.lasts().collect())
    ls = sorted(tuple(r) for r in
                snap.read().filter("kind = 'last'")
                .select("user_id", "touch_type", "touch_ts").collect())
    assert lg == ls
    with _pytest.raises(ValueError):
        SE.AttributionDayLedger(spark, str(tmp_path / "bad"),
                                "purchase", ["view"])


def test_attribution_day_ledger_crash_soak(spark, tmp_path, monkeypatch):
    import os as _os

    led = SE.AttributionDayLedger(
        spark, str(tmp_path / "asoak"), "purchase", ["view", "click"],
        lookback_seconds=7 * 86400, tiebreak=["event_id"])
    real_replace = _os.replace

    def crashing_replace(src, dst):
        if dst.endswith("manifest.json"):
            raise OSError("simulated crash at manifest commit")
        return real_replace(src, dst)

    for i, batch in enumerate(_time_batches(ROWS, CUTS)):
        bdf = _ev(spark, batch)
        monkeypatch.setattr(CDC.os, "replace", crashing_replace)
        try:
            led.apply_batch(bdf, batch_id=i)
        except OSError:
            pass
        monkeypatch.setattr(CDC.os, "replace", real_replace)
        assert led.last_batch_id() == i - 1
        led.apply_batch(bdf, batch_id=i)
        assert led.last_batch_id() == i
    got = sorted(((r["touch_type"] or ""), r["n"]) for r in led.counts().collect())
    want = sorted(((r["touch_type"] or ""), r["n"]) for r in
                  E.attribute_conversions(
                      _ev(spark, ROWS), "purchase", ["view", "click"],
                      lookback_seconds=7 * 86400, tiebreak=["event_id"])
                  .groupBy("touch_type").agg(F.count(F.lit(1)).alias("n"))
                  .collect())
    assert got == want
