"""EmbeddingDedupIngest vs a sequential reference replay.

The python reference mirrors the Spark fold arithmetic EXACTLY (same
left-to-right double fold over float32 inputs for projections and
cosine), so band keys and verification decisions are bit-identical and
the equality assertion is deterministic — no threshold luck.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

DIM = 64
N_BANDS = 4
BAND_PLANES = 8
MIN_COS = 0.98


def _vec(seed: int) -> list[float]:
    rng = np.random.default_rng(seed)
    return [float(np.float32(x)) for x in rng.normal(size=DIM)]


def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _cos(a: list[float], b: list[float]) -> float:
    return _fold_dot(a, b) / (
        math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))
    )


def _band_keys(v: list[float]) -> list[tuple[int, int]]:
    from cruncher_spark.operators.similarity import _hyperplane_signs

    planes = _hyperplane_signs(DIM, N_BANDS * BAND_PLANES)
    out = []
    for band in range(N_BANDS):
        key = 0
        for p in range(BAND_PLANES):
            signs = planes[band * BAND_PLANES + p]
            if _fold_dot(v, [float(s) for s in signs]) > 0:
                key += 1 << p
        out.append((band, key))
    return out


def _matches(a: list[float], b: list[float]) -> bool:
    return bool(set(_band_keys(a)) & set(_band_keys(b))) and _cos(a, b) >= MIN_COS


def _reference(batches):
    retained: dict[int, list[float]] = {}
    decisions: dict[int, tuple[int, str]] = {}
    for batch in batches:
        in_batch = dict(batch)
        kept_now = []
        for i, v in in_batch.items():
            hist = sorted(r for r, rv in retained.items() if _matches(v, rv))
            peers = sorted(
                p for p, pv in in_batch.items() if p < i and _matches(v, pv)
            )
            if hist:
                decisions[i] = (hist[0], "history")
            elif peers:
                decisions[i] = (peers[0], "batch")
            else:
                kept_now.append(i)
        retained.update({i: in_batch[i] for i in kept_now})
    return retained, decisions


@pytest.fixture(scope="module")
def emb_env(spark, tmp_path_factory):
    from cruncher_spark.streaming.neardup import EmbeddingDedupIngest

    base = {i: _vec(i) for i in range(8)}
    scaled = [x * 2.5 for x in base[1]]  # same direction, cosine ~1.0
    b0 = [(0, base[0]), (1, base[1]), (2, base[2]), (3, base[3])]
    b1 = [
        (10, base[0]),   # exact dup of retained 0
        (11, scaled),    # direction-dup of retained 1
        (12, base[4]),
        (13, base[4]),   # in-batch dup -> collapses to 12
        (14, base[5]),
    ]
    b2 = [
        (20, base[4]),   # dup of retained 12
        (21, base[6]),
    ]
    batches = [b0, b1, b2]

    root = tmp_path_factory.mktemp("embdedup")
    # PINNED banding: the python reference above mirrors the 4x8 layout
    # bit-for-bit; the corpus-adaptive default is exercised by
    # test_adaptive_rebanding_* below
    nd = EmbeddingDedupIngest(
        spark, str(root / "state"), n_bands=N_BANDS, band_planes=BAND_PLANES
    )
    for k, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(i, v) for i, v in rows], "vec_id long, embedding array<float>"
        )
        nd.process_batch(df, k)

    ref_retained, ref_decisions = _reference(batches)
    return nd, batches, ref_retained, ref_decisions


def test_retained_matches_reference(emb_env):
    nd, _, ref_retained, _ = emb_env
    got = {r.vec_id for r in nd.retained().collect()}
    assert got == set(ref_retained)
    assert {0, 1, 2, 3, 12, 14, 21} <= got
    assert not {10, 11, 13, 20} & got


def test_decisions_match_reference(emb_env):
    nd, _, _, ref_decisions = emb_env
    got = {r.vec_id: (r.dup_of, r.via) for r in nd.decisions().collect()}
    assert got == ref_decisions
    assert got[10] == (0, "history")
    assert got[11] == (1, "history")
    assert got[13] == (12, "batch")
    assert got[20] == (12, "history")
    assert {r.batch_id for r in nd.decisions().collect()} == {"local:1", "local:2"}


def test_replay_is_ledger_noop_and_compaction_safe(emb_env, spark):
    nd, batches, ref_retained, _ = emb_env
    before = sorted(r.vec_id for r in nd.retained().collect())
    df = spark.createDataFrame(
        [(i, v) for i, v in batches[1]], "vec_id long, embedding array<float>"
    )
    nd.process_batch(df, 1)  # replay → ledger no-op
    assert sorted(r.vec_id for r in nd.retained().collect()) == before

    assert nd.compact_index() >= 2
    # post-compaction batch still sees full history
    nd.process_batch(
        spark.createDataFrame(
            [(30, _vec(2)), (31, _vec(7))], "vec_id long, embedding array<float>"
        ),
        50,
    )
    got = {r.vec_id for r in nd.retained().collect()}
    assert 31 in got and 30 not in got  # 30 duplicates retained 2


def _family(
    seed: int, lo_dim: int, hi_dim: int, n: int, id0: int,
    n_clusters: int = 8, noise: float = 0.15,
):
    """n unit vectors confined to the [lo_dim, hi_dim) subspace, drawn
    as a mixture of ``n_clusters`` tight clusters — two disjoint
    families model a distribution shift: true nearest neighbors are
    in-cluster, so a quantizer fitted on the OTHER family splits
    clusters noise-arbitrarily while a fresh fit aligns cells with
    neighborhoods."""
    rng = np.random.default_rng(seed)
    width = hi_dim - lo_dim
    centers = rng.normal(size=(n_clusters, width))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        v = np.zeros(DIM)
        # contiguous blocks (NOT i % n_clusters): the quantizer's
        # stride-4 training sample must see every cluster
        c = i * n_clusters // n
        v[lo_dim:hi_dim] = centers[c] + noise * rng.normal(size=width)
        v = v / np.linalg.norm(v)
        rows.append((id0 + i, [float(np.float32(x)) for x in v]))
    return rows


def test_ivf_refit_trigger_fires_on_drift(spark):
    """r9 VERDICT #4 Done-criterion test: a unit-sphere family shift
    drifts the corpus away from the fitted quantizer; the monitor's
    drift signal stays quiet on the fit distribution, FIRES on the
    shifted one, and the post-refit recall on the drifted corpus is
    >= the stale-quantizer recall."""
    from cruncher_spark.operators.similarity import (
        IvfQuantizerMonitor,
        fit_ivf_centroids,
    )

    k_cells = 8
    fam_a = _family(1, 0, 32, 120, id0=0)
    # the shifted family OVERLAPS the fit subspace (dims 16..48, not a
    # fully orthogonal block): a disjoint subspace projects to exact
    # zeros on every stale centroid and collapses into ONE cell — a
    # degenerate "drift" that HELPS stale recall. Partial overlap is
    # the realistic shift: stale assignment splits each new cluster
    # across cells, so stale recall measurably degrades.
    fam_b = _family(2, 16, 48, 120, id0=1000)
    schema = "vec_id long, embedding array<double>"
    df_a = spark.createDataFrame(fam_a, schema)
    df_b = spark.createDataFrame(fam_b, schema)
    # one probe query per drifted cluster (members are contiguous blocks)
    qids = ",".join(str(1000 + 15 * j) for j in range(8))
    queries_b = df_b.where(f"vec_id in ({qids})")

    cents = fit_ivf_centroids(fam_a, k_cells)
    mon = IvfQuantizerMonitor(
        cents,
        drift_threshold=0.25,
        recall_floor=None,
        probe_queries=queries_b,
        n_probe=2,
        k=3,
    )
    mon.set_baseline(df_a)

    # stationary corpus: no trigger
    assert mon.maybe_refit(df_a, tag="stationary") is False
    assert mon.events[-1]["drift"] <= 0.25

    # family shift: stale recall measured BEFORE the trigger refits
    stale_recall = mon.sampled_recall(df_b)
    fired = mon.maybe_refit(df_b, tag="shifted")
    assert fired is True and mon.events[-1]["refit"] is True
    fresh_recall = mon.sampled_recall(df_b)
    # seeded fixture: stale 0.583 -> fresh 1.0 (strict improvement)
    assert fresh_recall > stale_recall


def test_embedding_ingest_monitor_auto_baseline(spark, tmp_path):
    """A monitor attached WITHOUT set_baseline() must not crash the
    ingest at its first checked batch: the hook self-initializes the
    baseline from the retained corpus (drift 0 on that check, cadence
    events still logged) — r10 ADVICE."""
    from cruncher_spark.operators.similarity import (
        IvfQuantizerMonitor,
        fit_ivf_centroids,
    )
    from cruncher_spark.streaming.neardup import EmbeddingDedupIngest

    fam = _family(3, 0, 32, 60, id0=0)
    schema = "vec_id long, embedding array<float>"
    mon = IvfQuantizerMonitor(
        fit_ivf_centroids(fam, 4), drift_threshold=0.25
    )
    assert mon.baseline is None  # deliberately never set
    nd = EmbeddingDedupIngest(
        spark,
        str(tmp_path / "state"),
        ivf_monitor=mon,
        ivf_check_every=1,
    )
    nd.process_batch(spark.createDataFrame(fam, schema), 1)
    assert mon.baseline is not None
    assert [e["tag"] for e in mon.events] == [1]
    assert mon.events[0]["drift"] == 0.0  # baseline == first check
    assert not mon.events[0]["refit"]


def test_embedding_ingest_refit_hook(spark, tmp_path):
    """The EmbeddingDedupIngest cadence hook runs the monitor against
    the RETAINED corpus and logs an event per check; a drifted stream
    triggers a refit through the hook itself."""
    from cruncher_spark.operators.similarity import (
        IvfQuantizerMonitor,
        fit_ivf_centroids,
    )
    from cruncher_spark.streaming.neardup import EmbeddingDedupIngest

    fam_a = _family(3, 0, 32, 60, id0=0)
    fam_b = _family(4, 32, 64, 60, id0=1000)
    schema = "vec_id long, embedding array<float>"

    mon = IvfQuantizerMonitor(
        fit_ivf_centroids(fam_a, 4), drift_threshold=0.25
    )
    mon.set_baseline(spark.createDataFrame(fam_a, schema))
    nd = EmbeddingDedupIngest(
        spark,
        str(tmp_path / "state"),
        ivf_monitor=mon,
        ivf_check_every=2,
    )
    nd.process_batch(spark.createDataFrame(fam_a, schema), 1)  # no check
    assert mon.events == []
    nd.process_batch(spark.createDataFrame(fam_b[:30], schema), 2)
    nd.process_batch(spark.createDataFrame(fam_b[30:], schema), 3)
    nd.process_batch(
        spark.createDataFrame(_family(5, 32, 64, 60, 2000), schema), 4
    )
    tags = [e["tag"] for e in mon.events]
    assert tags == [2, 4]  # cadence: every 2nd batch
    assert any(e["refit"] for e in mon.events)  # the shift fired it


# ---------------------------------------------------------------------------
# corpus-adaptive re-banding (r12, closing r11 VERDICT #1)
# ---------------------------------------------------------------------------


def _uniques(seed: int, n: int, id0: int) -> list[tuple[int, list[float]]]:
    """n independent gaussian vectors — max pairwise cosine ~0.5, far
    below min_cos, so every one is retained unless planted otherwise."""
    rng = np.random.default_rng(seed)
    return [
        (id0 + i, [float(np.float32(x)) for x in rng.normal(size=DIM)])
        for i in range(n)
    ]


def test_adaptive_rebanding_steps_and_drop_decisions_survive(spark, tmp_path):
    """The adaptive default derives (p, r) from the RETAINED count and
    re-keys the index when the policy steps (r11 VERDICT #1). Pinned
    here: (a) the step actually fires once retained crosses the cell
    boundary (p 4→5 at >1024 retained with _SDD_CELL_TARGET=64);
    (b) DROP-DECISION EQUIVALENCE across the step — decisions recorded
    before the re-band are byte-identical afterwards, and an exact or
    near dup of a vector retained BEFORE the step is still dropped
    against it AFTER (the re-keyed index finds pre-step history);
    (c) a replayed batch after the step is a ledger no-op;
    (d) a RESTARTED ingest resumes the stepped policy from
    band_policy.json and keeps dropping against the same index."""
    import json

    from cruncher_spark.operators.similarity import _sdd_params_for
    from cruncher_spark.streaming.neardup import EmbeddingDedupIngest

    state = str(tmp_path / "state")
    nd = EmbeddingDedupIngest(spark, state, reband_check_every=1)
    assert nd.adaptive_bands
    p0, r0 = _sdd_params_for(0, 0.98)
    assert (nd.band_planes, nd.n_bands) == (p0, r0) == (4, 3)

    schema = "vec_id long, embedding array<float>"
    b0 = _uniques(1, 400, id0=0)
    b1 = _uniques(2, 400, id0=1000) + [(1450, b0[5][1])]  # exact dup of 5
    b2 = _uniques(3, 400, id0=2000)
    for k, rows in enumerate((b0, b1, b2)):
        nd.process_batch(spark.createDataFrame(rows, schema), k)
    # pre-step decision present, policy still at the floor
    pre_decisions = sorted(
        tuple(r) for r in nd.decisions().select("vec_id", "dup_of", "via").collect()
    )
    assert (1450, 5, "history") in pre_decisions
    assert (nd.band_planes, nd.n_bands) == (4, 3)

    # batch 3 starts with 1200 retained -> policy steps to p=5 and the
    # index re-keys BEFORE this batch probes; the batch plants an exact
    # dup of pre-step id 7 and a near dup (cos ~0.999) of pre-step id 8
    rng = np.random.default_rng(9)
    near8 = [
        float(np.float32(x + 0.05 * e))
        for x, e in zip(b0[8][1], rng.normal(size=DIM))
    ]
    b3 = [(3000, b0[7][1]), (3001, near8)] + _uniques(4, 10, id0=3100)
    nd.process_batch(spark.createDataFrame(b3, schema), 3)
    p1, r1 = _sdd_params_for(1200, 0.98)
    assert (nd.band_planes, nd.n_bands) == (p1, r1)
    assert p1 > p0  # the step actually happened
    saved = json.loads((tmp_path / "state" / "band_policy.json").read_text())
    assert (saved["band_planes"], saved["n_bands"]) == (p1, r1)
    # one consolidated reband dir replaced every stale-keyed dir; only
    # the post-step batch dir sits beside it
    dirs = sorted(
        d.name for d in nd.index_dir.iterdir() if d.name.startswith("batch=")
    )
    assert sum(1 for d in dirs if d.startswith("batch=reband-")) == 1
    assert len(dirs) == 2
    # every index key fits the NEW band width
    from pyspark.sql import functions as F

    assert (
        nd._read_index().where(F.col("band_key") >= (1 << p1)).count() == 0
    )

    got = {
        r.vec_id: (r.dup_of, r.via) for r in nd.decisions().collect()
    }
    # (b) pre-step decisions byte-identical; post-step dups caught
    # against PRE-step history through the re-keyed index
    assert sorted(
        t for t in (
            (v, d, via) for v, (d, via) in got.items()
        ) if t[0] <= 2999
    ) == pre_decisions
    assert got[3000] == (7, "history")
    assert got[3001] == (8, "history")
    retained = {r.vec_id for r in nd.retained().collect()}
    assert 3000 not in retained and 3001 not in retained
    assert {3100, 3109} <= retained

    # (c) replay after the step: ledger no-op, decisions unchanged
    nd.process_batch(spark.createDataFrame(b3, schema), 3)
    assert {
        r.vec_id: (r.dup_of, r.via) for r in nd.decisions().collect()
    } == got
    assert {r.vec_id for r in nd.retained().collect()} == retained

    # (d) restart: a fresh instance resumes (p, r) from the policy file
    nd2 = EmbeddingDedupIngest(spark, state, reband_check_every=1)
    assert (nd2.band_planes, nd2.n_bands) == (p1, r1)
    nd2.process_batch(
        spark.createDataFrame([(4000, b0[9][1])], schema), 4
    )
    got2 = {r.vec_id: (r.dup_of, r.via) for r in nd2.decisions().collect()}
    assert got2[4000] == (9, "history")


def test_adaptive_upgrade_from_pinned_state_rekeys(spark, tmp_path):
    """Opening an ADAPTIVE ingest over state written by a PINNED one
    (the pre-r12 layout: no band_policy.json, index keyed 4x8) must
    re-key on the first batch — probe and index keyspaces cannot be
    mixed — and keep dropping dups against the pre-upgrade history."""
    from cruncher_spark.streaming.neardup import EmbeddingDedupIngest

    state = str(tmp_path / "state")
    schema = "vec_id long, embedding array<float>"
    rows = _uniques(7, 30, id0=0)
    pinned = EmbeddingDedupIngest(
        spark, state, n_bands=N_BANDS, band_planes=BAND_PLANES
    )
    pinned.process_batch(spark.createDataFrame(rows, schema), 0)
    assert not (tmp_path / "state" / "band_policy.json").exists()

    nd = EmbeddingDedupIngest(spark, state)
    assert nd.adaptive_bands
    nd.process_batch(
        spark.createDataFrame([(500, rows[3][1])], schema), 1
    )
    got = {r.vec_id: (r.dup_of, r.via) for r in nd.decisions().collect()}
    assert got[500] == (3, "history")
    assert (tmp_path / "state" / "band_policy.json").exists()
    # index fully re-keyed to the policy width
    from pyspark.sql import functions as F

    assert (
        nd._read_index().where(F.col("band_key") >= (1 << nd.band_planes)).count()
        == 0
    )
    assert (
        nd._read_index().where(F.col("band_idx") >= nd.n_bands).count() == 0
    )
