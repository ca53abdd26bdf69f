"""SnapshotGroup (round 11, VERDICT r10 item 5): atomic multi-table
commits — crash injection on both sides of the group claim, the group
CAS race, foreign-commit detection, and the NeardupIndex integration
pins (one commit per wave per table, no duplicate rows on replay)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from turnover_odata_etl_spark.storage import SnapshotGroup, SnapshotTable


@pytest.fixture()
def gdir(tmp_path):
    return str(tmp_path / "grp")


def mk(spark, gdir):
    a = SnapshotTable(
        spark, os.path.join(gdir, "a"),
        key_cols=["k"], order_col="ver", n_buckets=2,
    )
    b = SnapshotTable(
        spark, os.path.join(gdir, "b"),
        key_cols=["k"], order_col="ver", n_buckets=2,
    )
    return a, b, SnapshotGroup({"a": a, "b": b}, gdir)


def batch(spark, pairs):
    return spark.createDataFrame(
        [(k, ver) for k, ver in pairs], "k long, ver long"
    )


def test_group_append_all_commits_both_atomically(spark, gdir):
    a, b, g = mk(spark, gdir)
    out = g.append_all(
        {"a": batch(spark, [(1, 1), (2, 1)]), "b": batch(spark, [(9, 1)])}
    )
    assert out == {"a": 1, "b": 1}
    assert a.read().count() == 2 and b.read().count() == 1
    out2 = g.append_all(
        {"a": batch(spark, [(3, 2)]), "b": batch(spark, [(8, 2)])}
    )
    assert out2 == {"a": 2, "b": 2}
    # one commit per member per transaction — ids stay in lockstep
    assert a.current_id() == b.current_id() == 2


def test_group_empty_member_noops_at_current(spark, gdir):
    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )
    out = g.append_all(
        {"a": batch(spark, [(2, 2)]), "b": batch(spark, [])}
    )
    assert out == {"a": 2, "b": 1}


def test_group_crash_before_claim_leaves_nothing_visible(
    spark, gdir, monkeypatch
):
    """Both members prepared (staged files + temp manifests) but the
    txn link never happened: no member advances, cold handles see the
    old state, and the next commit proceeds cleanly."""
    import turnover_odata_etl_spark.storage.group as grp_mod

    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )

    real_link = grp_mod.os.link

    def boom(src, dst):
        if "/txns/" in dst.replace(os.sep, "/"):
            raise OSError("injected crash before group commit point")
        return real_link(src, dst)

    monkeypatch.setattr(grp_mod.os, "link", boom)
    with pytest.raises(OSError):
        g.append_all(
            {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
        )
    monkeypatch.undo()

    a2, b2, g2 = mk(spark, gdir)
    assert a2.current_id() == 1 and b2.current_id() == 1
    assert a2.read().count() == 1 and b2.read().count() == 1
    out = g2.append_all(
        {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
    )
    assert out == {"a": 2, "b": 2}


def test_group_crash_mid_rollforward_heals_on_recover(
    spark, gdir, monkeypatch
):
    """Crash AFTER the txn claim, with only member 'a' rolled forward:
    the commit IS durable; a cold group handle's recover() completes
    member 'b' — the torn window is never observable through the
    group."""
    import turnover_odata_etl_spark.storage.group as grp_mod

    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )

    real_link = grp_mod.os.link
    state = {"manifest_links": 0}

    def boom(src, dst):
        if "/manifests/" in dst.replace(os.sep, "/"):
            state["manifest_links"] += 1
            if state["manifest_links"] == 2:
                raise OSError("injected crash mid roll-forward")
        return real_link(src, dst)

    monkeypatch.setattr(grp_mod.os, "link", boom)
    with pytest.raises(OSError):
        g.append_all(
            {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
        )
    monkeypatch.undo()

    # one member is ahead on disk — the torn state recover() heals
    a2, b2, g2 = mk(spark, gdir)
    g2.recover()
    assert a2.current_id() == 2 and b2.current_id() == 2
    assert sorted(r["k"] for r in a2.read().collect()) == [1, 2]
    assert sorted(r["k"] for r in b2.read().collect()) == [8, 9]


def test_group_cas_race_retries_on_new_state(spark, gdir, monkeypatch):
    """Two group writers race the SAME txn number: the loser must
    abort its prepared manifests and re-plan — both commits land, in
    some order, with consecutive member ids."""
    import turnover_odata_etl_spark.storage.group as grp_mod

    a, b, g1 = mk(spark, gdir)
    _, _, g2 = mk(spark, gdir)
    g1.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )

    real_link = grp_mod.os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if "/txns/" in dst.replace(os.sep, "/") and not state["raced"]:
            state["raced"] = True
            g2.append_all(
                {"a": batch(spark, [(7, 2)]), "b": batch(spark, [(6, 2)])}
            )
        return real_link(src, dst)

    monkeypatch.setattr(grp_mod.os, "link", racing_link)
    out = g1.append_all(
        {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
    )
    monkeypatch.undo()
    assert out == {"a": 3, "b": 3}  # lost txn-2, retried, claimed 3
    assert sorted(r["k"] for r in a.read().collect()) == [1, 2, 7]
    assert sorted(r["k"] for r in b.read().collect()) == [6, 8, 9]


def test_group_detects_foreign_member_commit(spark, gdir, monkeypatch):
    """A direct (non-group) commit that steals a member's manifest id
    between prepare and roll-forward must surface as a loud
    RuntimeError — never silent divergence."""
    import turnover_odata_etl_spark.storage.group as grp_mod

    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )

    real_link = grp_mod.os.link
    state = {"stolen": False}

    def stealing_link(src, dst):
        if "/txns/" in dst.replace(os.sep, "/") and not state["stolen"]:
            state["stolen"] = True
            a.append(batch(spark, [(99, 2)]))  # foreign direct commit
        return real_link(src, dst)

    monkeypatch.setattr(grp_mod.os, "link", stealing_link)
    with pytest.raises(RuntimeError, match="foreign"):
        g.append_all(
            {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
        )


def test_group_txn_log_expiry_is_explicit(spark, gdir):
    """Txn records are never auto-pruned (a writer stalled between its
    number capture and its claim could re-claim a pruned number);
    expire_txns is the explicit quiesced-writers maintenance op."""
    _, _, g = mk(spark, gdir)
    for i in range(1, 8):
        g.append_all(
            {"a": batch(spark, [(i, i)]), "b": batch(spark, [(i, i)])}
        )
    ids = sorted(
        int(n.split("-")[1].split(".")[0])
        for n in os.listdir(g._txn_dir) if n.startswith("txn-")
    )
    assert ids == list(range(1, 8))  # all records retained by default
    g.expire_txns(keep_last=4)
    ids = sorted(
        int(n.split("-")[1].split(".")[0])
        for n in os.listdir(g._txn_dir) if n.startswith("txn-")
    )
    assert ids == [4, 5, 6, 7]
    # and the latest record is complete JSON (fsync'd before the link)
    with open(g._txn_path(7)) as fh:
        rec = json.load(fh)
    assert set(rec["members"]) == {"a", "b"}


def test_neardup_replayed_wave_appends_nothing(spark, tmp_path):
    """The round-11 armor-removal justification: a replayed
    already-committed wave must leave BOTH index tables byte-stable
    (same snapshot ids, same row counts — no duplicate rows), while
    still emitting the original pairs."""
    from turnover_odata_etl_spark.plans.roundnine import (
        NeardupIndex,
        neardup_wave,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far"
    df = spark.createDataFrame(
        [(0, base), (3, base + " away"), (1, base + " today")],
        "doc_id long, text string",
    )
    t = NeardupIndex(spark, str(tmp_path / "idx"), n_buckets=4)
    neardup_wave(t, df.filter("doc_id % 3 == 0"), "text", "doc_id",
                 0.6, 1).collect()
    w2 = sorted(
        tuple(r) for r in neardup_wave(
            t, df.filter("doc_id % 3 == 1"), "text", "doc_id", 0.6, 2
        ).collect()
    )
    ids = (t.bands.current_id(), t.sigs.current_id())
    counts = (t.bands.read().count(), t.sigs.read().count())
    # replay the committed wave: same pairs, zero new commits/rows
    w2r = sorted(
        tuple(r) for r in neardup_wave(
            t, df.filter("doc_id % 3 == 1"), "text", "doc_id", 0.6, 2
        ).collect()
    )
    assert w2r == w2
    assert (t.bands.current_id(), t.sigs.current_id()) == ids
    assert (t.bands.read().count(), t.sigs.read().count()) == counts
    # and a gap (skipping an uncommitted wave) is refused loudly
    with pytest.raises(ValueError, match="consecutive"):
        neardup_wave(t, df.limit(0), "text", "doc_id", 0.6, 9)


def test_group_empty_batches_advance_with_properties(spark, gdir):
    """Review r11: a zero-row transaction WITH properties must advance
    every member (metadata-only commits) — the checkpoint contract an
    empty micro-batch needs."""
    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])},
        properties={"wave": 1},
    )
    out = g.append_all(
        {"a": batch(spark, []), "b": batch(spark, [])},
        properties={"wave": 2},
    )
    assert out == {"a": 2, "b": 2}
    assert a.current_id() == b.current_id() == 2
    assert a.read().count() == 1 and b.read().count() == 1
    assert a.latest_property("wave") == 2


def test_group_stale_claim_race_retries_cleanly(spark, gdir, monkeypatch):
    """Review r11 (the poisoned-record interleaving): writer B commits
    BETWEEN A's recover() and A's claim. A's txn number was captured
    before prepare, so A's claim on k+1 must FAIL (B holds it) and A
    must retry on B's state — never claim a later number with stale
    member manifests and never leave a latest txn record that wedges
    recover()."""
    import turnover_odata_etl_spark.storage.group as grp_mod

    a, b, g1 = mk(spark, gdir)
    _, _, g2 = mk(spark, gdir)
    g1.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )

    real_tmp = type(a)._write_manifest_tmp
    state = {"raced": False}

    def racing_tmp(table, manifest):
        # fire when A prepares its FIRST member — after A's recover(),
        # before A's claim
        if not state["raced"]:
            state["raced"] = True
            g2.append_all(
                {"a": batch(spark, [(7, 2)]), "b": batch(spark, [(6, 2)])}
            )
        return real_tmp(table, manifest)

    monkeypatch.setattr(type(a), "_write_manifest_tmp", racing_tmp)
    out = g1.append_all(
        {"a": batch(spark, [(2, 3)]), "b": batch(spark, [(8, 3)])}
    )
    monkeypatch.undo()
    assert out == {"a": 3, "b": 3}
    # fresh handle: recover() must be clean (no poisoned latest txn)
    a3, b3, g3 = mk(spark, gdir)
    g3.recover()
    assert sorted(r["k"] for r in a3.read().collect()) == [1, 2, 7]
    assert sorted(r["k"] for r in b3.read().collect()) == [6, 8, 9]


def test_neardup_empty_wave_advances_checkpoint(spark, tmp_path):
    """Review r11: a zero-row trigger must advance the wave checkpoint
    (metadata-only grouped commit), so later waves still commit."""
    from turnover_odata_etl_spark.plans.roundnine import (
        NeardupIndex,
        neardup_wave,
    )

    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    t = NeardupIndex(spark, str(tmp_path / "idx"), n_buckets=4)
    neardup_wave(t, df, "text", "doc_id", 0.6, 1).collect()
    neardup_wave(t, df.limit(0), "text", "doc_id", 0.6, 2).collect()
    assert t.current_wave() == 2
    # wave 3 proceeds — the empty wave did not wedge the guard
    neardup_wave(t, df.limit(0), "text", "doc_id", 0.6, 3).collect()
    assert t.current_wave() == 3


def test_neardup_cross_wave_redelivery_is_filtered(spark, tmp_path):
    """Review r11: at-least-once ACROSS batch boundaries — a doc
    redelivered in a LATER wave must not re-enter the index (no
    duplicate rows) and must not re-emit its pairs; new docs in the
    same wave still pair against it through the index."""
    from turnover_odata_etl_spark.operators.dedup import near_dup_pairs
    from turnover_odata_etl_spark.plans.roundnine import (
        NeardupIndex,
        neardup_wave,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far"
    df = spark.createDataFrame(
        [(0, base), (3, base + " away"), (1, base + " today")],
        "doc_id long, text string",
    )
    t = NeardupIndex(spark, str(tmp_path / "idx"), n_buckets=4)
    w1 = [tuple(r) for r in neardup_wave(
        t, df.filter("doc_id in (0, 3)"), "text", "doc_id", 0.6, 1
    ).collect()]
    sigs_rows = t.sigs.read().count()
    # wave 2 REDELIVERS doc 0 alongside the genuinely new doc 1
    w2 = [tuple(r) for r in neardup_wave(
        t, df.filter("doc_id in (0, 1)"), "text", "doc_id", 0.6, 2
    ).collect()]
    # doc 0 contributed no new index rows...
    assert t.sigs.read().count() == sigs_rows + 1
    assert t.sigs.read().filter("doc_id = 0").count() == 1
    # ...and no re-emitted pairs: union == batch answer exactly once
    got = sorted(w1 + w2)
    want = sorted(
        tuple(r)
        for r in near_dup_pairs(df, "text", "doc_id", 0.6).collect()
    )
    assert got == want
    assert len(got) == len(set(got))


def test_group_merge_all_keeps_latest_atomically(spark, gdir):
    """merge_all: keep-latest semantics per member, one transaction —
    the base+derived-view commit pattern."""
    a, b, g = mk(spark, gdir)
    g.merge_all(
        {"a": batch(spark, [(1, 1), (2, 1)]), "b": batch(spark, [(9, 1)])}
    )
    out = g.merge_all(
        {"a": batch(spark, [(2, 5), (3, 2)]), "b": batch(spark, [(9, 7)])}
    )
    assert out == {"a": 2, "b": 2}
    assert {(r["k"], r["ver"]) for r in a.read().collect()} == {
        (1, 1), (2, 5), (3, 2),
    }
    assert {(r["k"], r["ver"]) for r in b.read().collect()} == {(9, 7)}
    # tombstone filter applies per member
    g.merge_all(
        {"a": batch(spark, [(2, 9)]), "b": batch(spark, [(9, 9)])},
        tombstone_filters={"a": "ver = 9"},
    )
    assert {(r["k"], r["ver"]) for r in a.read().collect()} == {
        (1, 1), (3, 2),
    }
    assert {(r["k"], r["ver"]) for r in b.read().collect()} == {(9, 9)}


def test_group_merge_all_crash_mid_rollforward_heals(
    spark, gdir, monkeypatch
):
    """The same torn-window healing contract as append_all, through
    the merge prepare path."""
    import turnover_odata_etl_spark.storage.group as grp_mod

    a, b, g = mk(spark, gdir)
    g.merge_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )
    real_link = grp_mod.os.link
    state = {"links": 0}

    def boom(src, dst):
        if "/manifests/" in dst.replace(os.sep, "/"):
            state["links"] += 1
            if state["links"] == 2:
                raise OSError("injected crash mid roll-forward")
        return real_link(src, dst)

    monkeypatch.setattr(grp_mod.os, "link", boom)
    with pytest.raises(OSError):
        g.merge_all(
            {"a": batch(spark, [(1, 2)]), "b": batch(spark, [(9, 2)])}
        )
    monkeypatch.undo()
    a2, b2, g2 = mk(spark, gdir)
    g2.recover()
    assert a2.current_id() == 2 and b2.current_id() == 2
    assert {(r["k"], r["ver"]) for r in a2.read().collect()} == {(1, 2)}
    assert {(r["k"], r["ver"]) for r in b2.read().collect()} == {(9, 2)}


def test_group_prepare_failure_cleans_temp_manifests(spark, gdir):
    """Review r11: a later member's prepare failure must not leak the
    earlier members' durable temp manifests (nothing else ever sweeps
    .tmp-*.json)."""
    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )
    bad = spark.createDataFrame([(1,)], "k long")  # missing 'ver'
    with pytest.raises(ValueError, match="missing key/order"):
        g.merge_all({"a": batch(spark, [(2, 2)]), "b": bad})
    for t in (a, b):
        tmps = [
            n for n in os.listdir(t._manifest_dir)
            if n.startswith(".tmp-")
        ]
        assert tmps == [], tmps
    # and the group still commits cleanly afterwards
    out = g.merge_all(
        {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
    )
    assert out == {"a": 2, "b": 2}


def test_group_foreign_steal_abort_txn_repairs(spark, gdir, monkeypatch):
    """ADVICE r11: the foreign-steal wedge must have a repair path.
    Two-phase roll-forward leaves every member POINTER unmoved when a
    steal is detected; recover() keeps failing loudly (wedged);
    abort_txn() voids the txn with a torn-state report, after which
    the group accepts commits again and the lost member batches can be
    re-planned."""
    import turnover_odata_etl_spark.storage.group as grp_mod

    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )
    b_id_before = b.current_id()

    real_link = grp_mod.os.link
    state = {"stolen": False}

    def stealing_link(src, dst):
        if "/txns/" in dst.replace(os.sep, "/") and not state["stolen"]:
            state["stolen"] = True
            a.append(batch(spark, [(99, 2)]))  # foreign direct commit
        return real_link(src, dst)

    monkeypatch.setattr(grp_mod.os, "link", stealing_link)
    with pytest.raises(RuntimeError, match="abort_txn"):
        g.append_all(
            {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
        )
    monkeypatch.setattr(grp_mod.os, "link", real_link)

    # no member pointer moved for the wedged txn
    assert b.current_id() == b_id_before
    assert sorted(r["k"] for r in b.read().collect()) == [9]
    # still wedged: a fresh handle's recover() fails loudly too
    g2 = SnapshotGroup({"a": a, "b": b}, gdir)
    with pytest.raises(RuntimeError, match="foreign"):
        g2.recover()

    status = g.abort_txn()
    assert status == {"a": "stolen", "b": "unapplied"}
    # non-applied members' temp manifests were reclaimed
    assert not [
        n for n in os.listdir(b._manifest_dir) if n.startswith(".tmp-")
    ]
    # both handles (and fresh ones) read/write through the group again
    g2.recover()
    g.append_all(
        {"a": batch(spark, [(2, 3)]), "b": batch(spark, [(8, 3)])}
    )
    assert sorted(r["k"] for r in a.read().collect()) == [1, 2, 99]
    assert sorted(r["k"] for r in b.read().collect()) == [8, 9]


def test_group_abort_txn_guards(spark, gdir):
    _, _, g = mk(spark, gdir)
    with pytest.raises(ValueError, match="no transactions"):
        g.abort_txn()
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )
    g.append_all(
        {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
    )
    with pytest.raises(ValueError, match="latest"):
        g.abort_txn(1)
    # aborting a HEALTHY latest txn is permitted (status: all applied)
    assert g.abort_txn() == {"a": "applied", "b": "applied"}
    # applied members keep their rows; the group keeps committing
    g.append_all(
        {"a": batch(spark, [(3, 3)]), "b": batch(spark, [(7, 3)])}
    )
    assert sorted(r["k"] for r in a_rows(g)) == [1, 2, 3]


def a_rows(g):
    return g.tables["a"].read().collect()


def test_group_expire_sweeps_aborted_markers(spark, gdir):
    _, _, g = mk(spark, gdir)
    for i in range(1, 4):
        g.append_all(
            {"a": batch(spark, [(i, i)]), "b": batch(spark, [(i, i)])}
        )
    g.abort_txn()  # healthy abort of txn 3 — marker written
    assert os.path.exists(g._abort_path(3))
    for i in range(4, 8):
        g.append_all(
            {"a": batch(spark, [(i, i)]), "b": batch(spark, [(i, i)])}
        )
    g.expire_txns(keep_last=2)
    assert not os.path.exists(g._abort_path(3))
    names = os.listdir(g._txn_dir)
    assert sorted(
        int(n.split("-")[1].split(".")[0])
        for n in names if _re_txn(n)
    ) == [6, 7]


def _re_txn(n):
    import re

    return re.match(r"^txn-\d+\.json$", n)


def test_group_apply_all_mixed_verbs_atomic(spark, gdir):
    """Round 13: apply_all commits an OVERWRITE of one member and a
    MERGE of another in one transaction — the IVF
    rebalance-with-codebook consistency shape."""
    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1), (2, 1)]), "b": batch(spark, [(9, 1)])}
    )
    out = g.apply_all(
        {
            # full rewrite of a (keys move in a real rebalance)
            "a": ("overwrite", batch(spark, [(10, 2), (11, 2)])),
            # keep-latest update of b (the codebook)
            "b": ("merge", batch(spark, [(9, 2)])),
        }
    )
    assert out == {"a": 2, "b": 2}
    assert sorted(r["k"] for r in a.read().collect()) == [10, 11]
    assert [(r["k"], r["ver"]) for r in b.read().collect()] == [(9, 2)]
    # pre-txn state stays time-travelable on both members
    assert sorted(r["k"] for r in a.read(snapshot_id=1).collect()) == [1, 2]


def test_group_apply_all_contracts(spark, gdir):
    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(2, 1)])}
    )
    with pytest.raises(ValueError, match="verb"):
        g.apply_all({"a": ("upsert", batch(spark, [(1, 2)]))})
    with pytest.raises(ValueError, match="verb"):
        g.apply_all({"a": batch(spark, [(1, 2)])})  # no verb at all
    with pytest.raises(ValueError, match="verb"):
        g.apply_all({"a": ()})  # malformed: empty tuple (review r13)
    with pytest.raises(ValueError, match="verb"):
        g.apply_all({"a": None})  # malformed: not a tuple
    # an empty APPEND member no-ops at its current id while the
    # overwrite member advances (overwrite is never a no-op)
    out = g.apply_all(
        {
            "a": ("append", batch(spark, [])),
            "b": ("overwrite", batch(spark, [(7, 2)])),
        }
    )
    assert out["a"] == 1 and out["b"] == 2
    assert [r["k"] for r in b.read().collect()] == [7]


def test_group_apply_all_crash_mid_rollforward_heals(
    spark, gdir, monkeypatch
):
    """The mixed-verb txn rides the same recover() machinery: a crash
    after the claim but before the links heals to FULL visibility of
    both verbs."""
    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(2, 1)])}
    )

    def boom(rec):
        raise RuntimeError("crash before roll-forward")

    monkeypatch.setattr(g, "_roll_forward", boom)
    with pytest.raises(RuntimeError, match="crash"):
        g.apply_all(
            {
                "a": ("overwrite", batch(spark, [(5, 2)])),
                "b": ("merge", batch(spark, [(2, 2)])),
            }
        )
    monkeypatch.undo()

    g2 = SnapshotGroup(
        {
            "a": SnapshotTable(
                spark, os.path.join(gdir, "a"),
                key_cols=["k"], order_col="ver", n_buckets=2,
            ),
            "b": SnapshotTable(
                spark, os.path.join(gdir, "b"),
                key_cols=["k"], order_col="ver", n_buckets=2,
            ),
        },
        gdir,
    )
    g2.recover()
    assert [r["k"] for r in g2.tables["a"].read().collect()] == [5]
    assert [
        (r["k"], r["ver"]) for r in g2.tables["b"].read().collect()
    ] == [(2, 2)]


# ------------------------------------------- group WAP publish (r14)


def test_publish_branches_atomic_across_members(spark, gdir):
    """The catalog-level WAP: two members' audited branches land in
    ONE group transaction — both visible together, provenance
    stamped, branch names cleaned up."""
    a, b, g = mk(spark, gdir)
    g.append_all(
        {
            "a": batch(spark, [(k, 1) for k in range(10)]),
            "b": batch(spark, [(k, 1) for k in range(10)]),
        }
    )
    ba = a.create_branch("wap")
    bb = b.create_branch("wap")
    ba.append(batch(spark, [(k, 2) for k in range(10, 20)]))
    bb.delete_where("k < 3")
    out = g.publish_branches({"a": ba, "b": bb})
    assert out == {"a": 2, "b": 2}
    assert a.read().count() == 20
    assert b.read().count() == 7
    assert a.branches() == [] and b.branches() == []
    assert a.history()[-1]["operation"] == "publish"
    assert a.latest_property("publish.branch") == "wap"


def test_publish_branches_refuses_overlapping_non_ff_atomically(
    spark, gdir
):
    """One member's main moved past its fork AND touched a bucket the
    branch touched (same key → same bucket): the group publish
    refuses BEFORE the claim — neither member publishes. (A
    DISJOINT-bucket main move is absorbed since round 15 — see
    test_publish_branches_absorbs_disjoint_main_move.)"""
    from turnover_odata_etl_spark.storage.snapshot import (
        CommitConflict,
    )

    a, b, g = mk(spark, gdir)
    g.append_all(
        {
            "a": batch(spark, [(1, 1)]),
            "b": batch(spark, [(1, 1)]),
        }
    )
    ba = a.create_branch("w")
    bb = b.create_branch("w")
    ba.append(batch(spark, [(2, 2)]))
    bb.append(batch(spark, [(2, 2)]))
    g.append_all(  # a's main moves INTO the branch's bucket (key 2)
        {"a": batch(spark, [(2, 3)]), "b": batch(spark, [])}
    )
    with pytest.raises(CommitConflict):
        g.publish_branches({"a": ba, "b": bb})
    assert a.read().count() == 2  # main rows only
    assert b.read().count() == 1  # b did NOT publish either
    ba.drop()
    bb.drop()


def test_publish_branches_absorbs_disjoint_main_move(spark, gdir):
    """Optimistic validation (round 15): a member's main that moved
    past the fork in DISJOINT buckets no longer blocks the group
    publish — the squash rebases onto the new head and both the main
    move and the branch work are visible afterwards."""
    a, b, g = mk(spark, gdir)
    g.append_all(
        {
            "a": batch(spark, [(1, 1)]),
            "b": batch(spark, [(1, 1)]),
        }
    )
    ba = a.create_branch("w")
    bb = b.create_branch("w")
    ba.append(batch(spark, [(2, 2)]))
    bb.append(batch(spark, [(2, 2)]))

    # pick a key whose bucket differs from key 2's, so a hash change
    # can't silently turn this into the overlapping case (one batched
    # probe job — Spark's hash still decides)
    brows = (
        spark.range(50)
        .select("id", F.pmod(F.hash(F.col("id")), F.lit(2)).alias("b"))
        .collect()
    )
    bmap = {int(r["id"]): int(r["b"]) for r in brows}
    other = next(x for x in range(3, 50) if bmap[x] != bmap[2])
    g.append_all(
        {"a": batch(spark, [(other, 3)]), "b": batch(spark, [])}
    )
    out = g.publish_branches({"a": ba, "b": bb})
    assert sorted(
        (r["k"], r["ver"]) for r in a.read().collect()
    ) == [(1, 1), (2, 2), (other, 3)]
    assert sorted(
        (r["k"], r["ver"]) for r in b.read().collect()
    ) == [(1, 1), (2, 2)]
    assert a.branches() == [] and b.branches() == []
    assert a.latest_property("publish.branch") == "w"
    assert out["a"] == a.current_id()


def test_publish_branches_crash_mid_rollforward_heals(
    spark, gdir, monkeypatch
):
    """Crash between the group claim and the member roll-forward:
    recover() completes the publish; a re-run no-ops idempotently."""
    a, b, g = mk(spark, gdir)
    g.append_all(
        {
            "a": batch(spark, [(1, 1)]),
            "b": batch(spark, [(1, 1)]),
        }
    )
    ba = a.create_branch("w")
    bb = b.create_branch("w")
    ba.append(batch(spark, [(2, 2)]))
    bb.append(batch(spark, [(3, 2)]))

    real = SnapshotGroup._roll_forward

    def boom(self, rec):
        raise OSError("injected crash after the group claim")

    monkeypatch.setattr(SnapshotGroup, "_roll_forward", boom)
    with pytest.raises(OSError):
        g.publish_branches({"a": ba, "b": bb})
    monkeypatch.setattr(SnapshotGroup, "_roll_forward", real)
    g.recover()  # heals the member-link window
    assert a.read().count() == 2
    assert b.read().count() == 2
    # re-run publishes idempotently (prepared publishes self-identify)
    out = g.publish_branches({"a": ba, "b": bb})
    assert out == {"a": 2, "b": 2}
    assert a.branches() == [] and b.branches() == []


def test_publish_branches_validation(spark, gdir):
    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(1, 1)])}
    )
    ba = a.create_branch("w")
    with pytest.raises(ValueError, match="unknown member"):
        g.publish_branches({"zz": ba})
    with pytest.raises(ValueError, match="SnapshotBranch"):
        g.publish_branches({"a": a})
    with pytest.raises(ValueError, match="different table"):
        g.publish_branches({"b": ba})
    # commit-less branch: member no-ops at current
    out = g.publish_branches({"a": ba})
    assert out == {"a": a.current_id()}
    assert a.branches() == []


# ---------------------------------------------------------------------
# Failure injection for the threaded member prepares and the
# before_claim hook: whatever raises before the txn claim, no member
# advances, no temp manifest or temp txn record survives, and the same
# call retried afterwards commits.


def _assert_nothing_claimed(g, ids):
    for name, t in g.tables.items():
        assert t.current_id() == ids[name], name
    for d in [t._manifest_dir for t in g.tables.values()] + [g._txn_dir]:
        tmps = [n for n in os.listdir(d) if n.startswith(".tmp-")]
        assert tmps == [], (d, tmps)


def test_group_prepare_raises_while_sibling_mid_write(
    spark, gdir, monkeypatch
):
    """Member b's prepare raises inside _txn_all's thread pool while
    member a is between its staged Spark write and its promotion."""
    import threading

    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )
    ids = {"a": a.current_id(), "b": b.current_id()}
    a_mid_write = threading.Event()
    b_raised = threading.Event()
    real_promote = a._promote_staged

    def slow_promote(staging, run):
        a_mid_write.set()
        assert b_raised.wait(60)
        return real_promote(staging, run)

    def failing_prepare(df, properties=None):
        assert a_mid_write.wait(60)
        b_raised.set()
        raise RuntimeError("injected member prepare failure")

    monkeypatch.setattr(a, "_promote_staged", slow_promote)
    monkeypatch.setattr(b, "_prepare_append", failing_prepare)
    batches = {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
    with pytest.raises(RuntimeError, match="injected member prepare"):
        g.append_all(batches)
    assert a_mid_write.is_set() and b_raised.is_set()
    _assert_nothing_claimed(g, ids)
    monkeypatch.undo()

    assert g.append_all(batches) == {"a": 2, "b": 2}
    assert {r["k"] for r in a.read().collect()} == {1, 2}
    assert {r["k"] for r in b.read().collect()} == {8, 9}


def test_group_before_claim_failure_leaves_nothing(spark, gdir):
    """append_all(before_claim=) raising after every member's temp
    manifest is durable: the temps are reclaimed, nothing is claimed,
    and a retry with a passing hook commits."""
    a, b, g = mk(spark, gdir)
    g.append_all(
        {"a": batch(spark, [(1, 1)]), "b": batch(spark, [(9, 1)])}
    )
    ids = {"a": a.current_id(), "b": b.current_id()}
    seen = []

    def failing_hook():
        seen.append(sorted(
            n
            for t in (a, b)
            for n in os.listdir(t._manifest_dir)
            if n.startswith(".tmp-")
        ))
        raise OSError("injected before_claim failure")

    batches = {"a": batch(spark, [(2, 2)]), "b": batch(spark, [(8, 2)])}
    with pytest.raises(OSError, match="injected before_claim"):
        g.append_all(batches, before_claim=failing_hook)
    assert len(seen) == 1 and len(seen[0]) == 2  # both temps existed
    _assert_nothing_claimed(g, ids)

    calls = []
    out = g.append_all(batches, before_claim=lambda: calls.append(1))
    assert out == {"a": 2, "b": 2} and calls == [1]
    assert {r["k"] for r in a.read().collect()} == {1, 2}
    assert {r["k"] for r in b.read().collect()} == {8, 9}
