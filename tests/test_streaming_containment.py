"""TextContainmentIngest: streaming asymmetric containment vs a pure
Python reference replay — the online form of the dedup_containment gate
riding the VideoDedupIngest machinery (shingle hash = frame hash).
"""

from __future__ import annotations

import pytest

TAU = (9, 10)
DF_CAP = 1000


def _sh(text: str, n: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def _reference(batches, tau=TAU, df_cap=DF_CAP):
    """Replay the pinned retention rule on shingle SETS."""
    tn, td = tau
    retained: dict[int, set[str]] = {}
    decisions: dict[int, tuple[int, str]] = {}
    for batch in batches:
        hs = {i: _sh(t) for i, t in batch}
        freq: dict[str, int] = {}
        for s in list(retained.values()) + list(hs.values()):
            for h in s:
                freq[h] = freq.get(h, 0) + 1
        ok = {h for h, c in freq.items() if c <= df_cap}
        dropped: dict[int, tuple[int, str]] = {}
        for i in sorted(hs):
            n_i = len(hs[i])
            if n_i == 0:
                continue
            mine = hs[i] & ok
            # history: per-hash min-id representative attribution
            reps: dict[int, int] = {}
            for h in mine:
                holders = [r for r, rs in retained.items() if h in rs]
                if holders:
                    r = min(holders)
                    reps[r] = reps.get(r, 0) + 1
            hist = [r for r, c in reps.items() if c * td >= n_i * tn]
            if hist:
                dropped[i] = (min(hist), "history")
                continue
            peers = [
                j
                for j in hs
                if j < i and len(hs[j] & mine) * td >= n_i * tn
            ]
            if peers:
                dropped[i] = (min(peers), "batch")
        for i in hs:
            if i not in dropped and hs[i]:
                retained[i] = hs[i]
        decisions.update(dropped)
    return retained, decisions


def _df(spark, batch):
    return spark.createDataFrame(batch, "doc_id long, text string")


@pytest.fixture(scope="module")
def cont_env(spark, tmp_path_factory):
    from cruncher_spark.streaming.neardup import TextContainmentIngest

    state = tmp_path_factory.mktemp("contdedup")
    ingest = TextContainmentIngest(spark, str(state))

    a = _words("a", 60)
    b = _words("b", 40)
    r = _words("r", 30)
    batches = [
        [(10, a), (11, b)],
        # 20 = verbatim quote of a 20-word span of A (containment 1.0 in
        # A, jaccard vs A only ~0.3) -> history drop; 21 = fresh;
        # 22 = 21 plus two appended words (28/30 of its shingles in 21)
        # -> batch drop; 23 = fresh
        [
            (20, " ".join(a.split()[15:35])),
            (21, r),
            (22, r + " extra0 extra1"),
            (23, _words("c", 25)),
        ],
        # 30 = quote of B -> history drop against B
        [(30, " ".join(b.split()[5:25]))],
    ]
    for bid, batch in enumerate(batches):
        ingest.process_doc_batch(_df(spark, batch), bid)
    return ingest, batches, _reference(batches)


def test_retained_matches_reference(cont_env):
    ingest, _, (ref_retained, _) = cont_env
    got = {row["media_id"] for row in ingest.retained().collect()}
    assert got == set(ref_retained)
    assert 10 in got and 20 not in got


def test_decisions_match_reference(cont_env):
    ingest, _, (_, ref_decisions) = cont_env
    got = {
        row["media_id"]: (row["dup_of"], row["via"])
        for row in ingest.decisions().collect()
    }
    assert got == ref_decisions
    assert got[20] == (10, "history")
    assert got[22] == (21, "batch")
    assert got[30] == (11, "history")
    # direct calls ledger under the "local" scope: local:<batch_id>
    assert {
        row["media_id"]: row["batch_id"] for row in ingest.decisions().collect()
    } == {20: "local:1", 22: "local:1", 30: "local:2"}
    assert ingest.survivors.applied_batches() == {"local:0", "local:1", "local:2"}


def test_quote_invisible_to_jaccard_is_caught(cont_env):
    """The case this filter exists for: the quote's jaccard vs its
    source is far below any near-dup threshold, yet containment = 1."""
    _, batches, (_, decisions) = cont_env
    a = dict(batches[0])[10]
    q = dict(batches[1])[20]
    inter = len(_sh(a) & _sh(q))
    union = len(_sh(a) | _sh(q))
    assert inter / union < 0.5  # MinHash ingest would keep it
    assert inter == len(_sh(q))  # fully contained
    assert decisions[20] == (10, "history")


def test_below_tau_survives(spark, tmp_path):
    """A doc sharing a span just UNDER tau of its shingles is kept —
    the rational threshold compares in integers."""
    from cruncher_spark.streaming.neardup import TextContainmentIngest

    ingest = TextContainmentIngest(spark, str(tmp_path / "state"))
    base = _words("x", 40)
    ingest.process_doc_batch(_df(spark, [(1, base)]), 0)
    # 12-word quote (10 shingles) + 3 fresh words -> 13 word doc,
    # 11 shingles, 9 shared: 9*10 < 11*9 -> below 9/10, kept
    partial = " ".join(base.split()[:11]) + " y0 y1"
    ingest.process_doc_batch(_df(spark, [(2, partial)]), 1)
    kept = {row["media_id"] for row in ingest.retained().collect()}
    assert kept == {1, 2}


def test_replay_is_ledger_noop(cont_env, spark):
    ingest, batches, (ref_retained, ref_decisions) = cont_env
    ingest.process_doc_batch(_df(spark, batches[1]), 1)
    assert {
        row["media_id"] for row in ingest.retained().collect()
    } == set(ref_retained)
    got = {
        row["media_id"]: (row["dup_of"], row["via"])
        for row in ingest.decisions().collect()
    }
    assert got == ref_decisions
