"""VideoDedupIngest: streaming frame-level video dedup vs a pure-integer
reference replay.

The reference recomputes the pinned retention rule directly on frame
hash SETS (drop iff >= min_shared un-capped hashes shared with retained
history — dup_of the min retained id sharing any hash — or with a
smaller-id batch peer; df-cap over combined index+batch per-hash video
counts), so equality with the Spark pipeline pins encoder + decoder +
per-hash aggregation + df-cap + ledger end to end. VERDICT r6 missing
#2: the batch side covers all three modalities, this closes the
streaming hook for video.
"""

from __future__ import annotations

import numpy as np
import pytest

from cruncher_spark.functions.codecs import avi_encode
from cruncher_spark.operators.imagehash import dhash_bits


def _frame(seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(24, 32)).astype(np.uint8)


def _video(*seeds: int) -> np.ndarray:
    return np.stack([_frame(s) for s in seeds])


def _hashes(video: np.ndarray) -> set[int]:
    return {dhash_bits(f) for f in video}


def _reference(batches, df_cap=1000, min_shared=1):
    """Replay the retention rule in plain Python.

    retained: {media_id: hash set}; decisions: {dup: (kept, via)}.
    """
    retained: dict[int, set[int]] = {}
    decisions: dict[int, tuple[int, str]] = {}
    for batch in batches:
        hs = {i: _hashes(v) for i, v in batch}
        # combined per-hash video counts (history + batch) -> df-cap
        freq: dict[int, int] = {}
        for s in list(retained.values()) + list(hs.values()):
            for h in s:
                freq[h] = freq.get(h, 0) + 1
        ok = {h for h, n in freq.items() if n <= df_cap}
        dropped: dict[int, tuple[int, str]] = {}
        for i in sorted(hs):
            mine = hs[i] & ok
            # history: per-hash min-id representative attribution
            shared = [
                min(r for r, rs in retained.items() if h in rs)
                for h in mine
                if any(h in rs for rs in retained.values())
            ]
            reps = {r: shared.count(r) for r in set(shared)}
            hist = [r for r, n in reps.items() if n >= min_shared]
            if hist:
                dropped[i] = (min(hist), "history")
                continue
            peers = [
                j
                for j in hs
                if j < i and len(hs[j] & mine) >= min_shared
            ]
            if peers:
                dropped[i] = (min(peers), "batch")
        for i in hs:
            if i not in dropped and hs[i]:
                retained[i] = hs[i]
        decisions.update(dropped)
    return retained, decisions


def _df(spark, batch):
    return spark.createDataFrame(
        [(i, bytearray(avi_encode(v, 10))) for i, v in batch],
        "media_id long, payload binary",
    )


@pytest.fixture(scope="module")
def vid_env(spark, tmp_path_factory):
    from cruncher_spark.streaming.neardup import VideoDedupIngest

    state = tmp_path_factory.mktemp("viddedup")
    ingest = VideoDedupIngest(spark, str(state))

    src = _video(1, 2, 3, 4)  # the original
    batches = [
        [(10, src), (11, _video(5, 6, 7))],
        # 20 = clip of 10 (history dup), 21 = fresh, 22 = re-encode of 21
        # with one extra frame (batch chain -> min id 21), 23 = fresh
        [
            (20, src[1:3].copy()),
            (21, _video(8, 9)),
            (22, _video(8, 9, 12)),
            (23, _video(13, 14)),
        ],
        # 30 = concatenation touching 11's footage (history dup of 11)
        [(30, np.concatenate([_video(6), _video(15)]))],
    ]
    for bid, batch in enumerate(batches):
        ingest.process_batch(_df(spark, batch), bid)
    return ingest, batches, _reference(batches)


def test_retained_matches_reference(vid_env):
    ingest, _, (ref_retained, _) = vid_env
    got = {r["media_id"] for r in ingest.retained().collect()}
    assert got == set(ref_retained)
    assert 10 in got and 20 not in got  # clip dropped, source kept


def test_decisions_match_reference(vid_env):
    ingest, _, (_, ref_decisions) = vid_env
    got = {
        r["media_id"]: (r["dup_of"], r["via"])
        for r in ingest.decisions().collect()
    }
    assert got == ref_decisions
    assert got[20] == (10, "history")
    assert got[22] == (21, "batch")
    assert got[30] == (11, "history")


def test_survivor_stats(vid_env):
    ingest, batches, (ref_retained, _) = vid_env
    rows = {r["media_id"]: r for r in ingest.retained().collect()}
    videos = {i: v for b in batches for i, v in b}
    for mid, r in rows.items():
        assert r["n_frames"] == len(videos[mid])
        assert r["n_distinct_hashes"] == len(_hashes(videos[mid]))


def test_replay_is_ledger_noop(vid_env, spark):
    """Replay batch 1 verbatim: the ledger makes the survivor merge a
    no-op, the scope-addressed index/decision overwrites are idempotent,
    and the batch-id exclusion recomputes against the pre-batch history
    (decisions identical even though the index already holds batch 1)."""
    ingest, batches, (ref_retained, ref_decisions) = vid_env
    ingest.process_batch(_df(spark, batches[1]), 1)
    assert {r["media_id"] for r in ingest.retained().collect()} == set(
        ref_retained
    )
    got = {
        r["media_id"]: (r["dup_of"], r["via"])
        for r in ingest.decisions().collect()
    }
    assert got == ref_decisions


def test_df_cap_excludes_viral_frame(spark, tmp_path):
    """A frame shared by more videos than df_cap is boilerplate, not a
    re-encode signal: videos sharing ONLY that frame all survive."""
    from cruncher_spark.streaming.neardup import VideoDedupIngest

    logo = _frame(99)
    ingest = VideoDedupIngest(spark, str(tmp_path / "state"), df_cap=2)
    batch = [
        (i, np.stack([logo, _frame(100 + i)])) for i in range(1, 5)
    ]  # 4 videos share the logo frame > df_cap=2
    ingest.process_batch(_df(spark, batch), 0)
    assert {r["media_id"] for r in ingest.retained().collect()} == {1, 2, 3, 4}

    # under the cap the same sharing IS a dup signal
    ingest2 = VideoDedupIngest(spark, str(tmp_path / "state2"), df_cap=10)
    ingest2.process_batch(_df(spark, batch), 0)
    assert {r["media_id"] for r in ingest2.retained().collect()} == {1}


def test_crash_between_index_write_and_ledger_commit_recovers(
    spark, tmp_path, monkeypatch
):
    """Outbox ordering: index + decisions land, the survivor merge
    crashes before the ledger commit — replay converges to the same
    retained + decisions state."""
    from cruncher_spark.merge.upsert import PointTable
    from cruncher_spark.streaming.neardup import VideoDedupIngest

    ingest = VideoDedupIngest(spark, str(tmp_path / "state"))
    b0 = [(1, _video(1, 2)), (2, _video(3, 4))]
    ingest.process_batch(_df(spark, b0), 0)

    real_merge = PointTable.merge
    calls = {"n": 0}

    def crashing_merge(self, *a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash before ledger commit")

    monkeypatch.setattr(PointTable, "merge", crashing_merge)
    b1 = [(3, _video(1, 2)), (4, _video(5, 6))]  # 3 dups retained 1
    with pytest.raises(RuntimeError):
        ingest.process_batch(_df(spark, b1), 1)
    assert calls["n"] == 1
    monkeypatch.setattr(PointTable, "merge", real_merge)

    # replay the epoch (what Structured Streaming does on restart)
    ingest.process_batch(_df(spark, b1), 1)
    assert {r["media_id"] for r in ingest.retained().collect()} == {1, 2, 4}
    dec = {
        r["media_id"]: (r["dup_of"], r["via"])
        for r in ingest.decisions().collect()
    }
    assert dec == {3: (1, "history")}


def test_stream_wiring_and_compaction(spark, tmp_path):
    """End-to-end through a real file stream + availableNow trigger,
    then compact_index folds the per-batch dirs."""
    from cruncher_spark.streaming.neardup import VideoDedupIngest

    src = tmp_path / "media"
    src.mkdir()
    _df(spark, [(1, _video(1, 2)), (2, _video(3, 4))]).write.mode(
        "append"
    ).parquet(str(src))
    ingest = VideoDedupIngest(spark, str(tmp_path / "state"))
    q = ingest.start_file_stream(
        str(src), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)

    _df(spark, [(3, _video(1, 2)), (4, _video(7, 8))]).write.mode(
        "append"
    ).parquet(str(src))
    q = ingest.start_file_stream(
        str(src), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)

    assert {r["media_id"] for r in ingest.retained().collect()} == {1, 2, 4}
    # on-disk batch ids: <sid>:<epoch> in the ledger and the decisions,
    # batch=<sid>-<epoch> index dirs (a changed format would re-apply the
    # last uncommitted epoch after an upgrade)
    sid = (tmp_path / "ckpt" / ".cruncher-stream-id").read_text().strip()
    assert ingest.stream_id == sid
    assert ingest.survivors.applied_batches() == {f"{sid}:0", f"{sid}:1"}
    assert {
        r["media_id"]: r["batch_id"] for r in ingest.decisions().collect()
    } == {3: f"{sid}:1"}
    assert {d.name for d in ingest.index_dir.iterdir()} == {
        f"batch={sid}-0",
        f"batch={sid}-1",
    }
    assert ingest.compact_index() >= 2
    # post-compaction batch still dedups against the whole history
    ingest.process_batch(_df(spark, [(5, _video(3, 4))]), 99)
    got = {r["media_id"] for r in ingest.retained().collect()}
    assert got == {1, 2, 4}
