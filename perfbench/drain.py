"""Worker-drain workloads: a backlog of 1000-id batches through
``CrunchWorker.process_batch``, with web-tier refresh reads after each
commit, then an output check against a one-shot recompute.

Closed loop, one client: the next batch is handed in only after the
previous batch's commit and its refresh reads have returned.
"""

from __future__ import annotations

import gc
import json
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from stats import median

#: worker set-ups per run, on a warm process (table load, worker build,
#: the view's dim lookups); setup_s counts the session start, the warm-up
#: and the median set-up
SETUP_REPS = 3
#: batches a first worker runs on the cold JVM before the set-ups and the
#: timing: they pay class loading and code generation. JIT keeps warming
#: for two more batches (the first measured batch reads ~20% above later
#: ones), but the run budget affords no more than one.
WARMUP_BATCHES = 1
#: measured batches are capped so the id backlog always suffices
MAX_BATCHES = 36
REFRESH_READS = 5
#: refresh reads after each warm-up batch: the first read of a process
#: compiles the read path
WARMUP_READS = 2
#: synthetic history rows per player in the pre-grown player state
PREGROWN_COMBOS = 4


@dataclass(frozen=True)
class Workload:
    name: str
    view: str
    pregrown: bool


WORKLOADS = {
    "worker_global": Workload("worker_global", "global", pregrown=False),
    "worker_player_bigstate": Workload("worker_player_bigstate", "player", pregrown=True),
}


@dataclass
class Drain:
    batch_s: list[float] = field(default_factory=list)
    refresh_s: list[float] = field(default_factory=list)
    ids_in: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: indices of the id files merged into the measured state
    merged: list[int] = field(default_factory=list)


def _link_copy(src: Path, dst: Path) -> None:
    """Copy a point table by hard links. Point-table versions are
    immutable (a merge writes a new version dir and flips CURRENT), so
    the copy shares data files with the cached original safely."""
    shutil.rmtree(dst, ignore_errors=True)
    dst.mkdir(parents=True)
    for item in src.iterdir():
        if item.is_dir():
            shutil.copytree(item, dst / item.name, copy_function=os.link)
        elif item.name != "WRITER.lock":
            shutil.copy2(item, dst / item.name)


def build_pregrown(spark, tables_dir: Path, cache: Path) -> Path:
    """The pre-grown player point table: ``N_PLAYERS`` x ``PREGROWN_COMBOS``
    synthetic rows folded in by one ``PointTable.merge`` (the program's own
    layout). Built once per checkout and copied for each run."""
    from pyspark.sql import functions as F

    from cruncher_spark.api import CRUNCH_VIEWS
    from cruncher_spark.merge.upsert import PointTable
    from cruncher_spark.worker import load_tables

    final = cache / f"pregrown-player-p{gen.N_PLAYERS}-c{PREGROWN_COMBOS}"
    if final.exists():
        return final
    tables = load_tables(spark, str(tables_dir))
    delta_plan, key, policies = CRUNCH_VIEWS["player"]
    schema = delta_plan(tables, []).schema
    rows = spark.sql(gen.pregrown_rows_sql(gen.N_PLAYERS, PREGROWN_COMBOS))
    combo = F.col("combo")
    keys = {
        "player_api_id": F.col("player_api_id"),
        "series_id": combo % 5 + 6,  # the five player series
        "filter_id": F.floor(combo / 5) % 2 + 4,  # the two player filters
        "hero_id": F.floor(combo / 10) % 5 + 1,
        "game_mode_id": F.floor(combo / 50) % 4 + 1,
        "role_id": F.floor(combo / 200) % 4 + 1,
        "updated_at": F.lit("2026-07-01 00:00:00").cast("timestamp"),
    }
    cols = [
        keys.get(f.name, F.abs(F.hash("id", F.lit(f.name))) % 50)
        .cast(f.dataType)
        .alias(f.name)
        for f in schema.fields
    ]
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    table = PointTable(spark, str(tmp), key=list(key), policies=policies)
    table.merge(rows.select(cols), batch_id="pregrown")
    # for the output check: the history as plain parquet (read with
    # pyarrow, no Spark job), and its row count and played sum
    state = table.read()
    state.coalesce(1).write.mode("overwrite").parquet(str(history_path(final)))
    stats = state.agg(F.count("*").alias("rows"), F.sum("played").alias("played"))
    final.with_suffix(".json").write_text(json.dumps(stats.first().asDict()))
    os.replace(tmp, final)
    return final


def history_path(pregrown: Path) -> Path:
    return pregrown.with_name(pregrown.name + "-history.parquet")


@dataclass
class Run:
    """Everything a finished drain leaves for the check and the report."""

    wl: Workload
    spark: object
    worker: object
    tracer: object
    lines: list[list[str]]
    known: list[list[str]]
    pregrown: Path | None
    metrics: dict
    setup: dict
    drain: Drain
    #: per traced batch: inode/footer facts of its merge (trace runs only)
    merge_facts: dict = field(default_factory=dict)


def run(wl: Workload, spark_start, seed: int, seconds: float, work: Path, tracer_factory) -> Run:
    """One run: set up, then drain the backlog for ``seconds``."""
    from cruncher_spark.worker import build_worker, load_tables

    cache = work / "cache"
    tables_dir = gen.crunch_tables(cache)
    ids = gen.participant_ids(tables_dir)
    lines, known = gen.batch_lines(ids, seed, WARMUP_BATCHES + MAX_BATCHES)
    id_dir = gen.write_id_files(cache, wl.view, seed, lines)

    def id_frame(b: int):
        return spark.read.text(str(id_dir / f"batch-{b:05d}.txt"))

    t0 = time.perf_counter()
    spark = spark_start()
    session_s = time.perf_counter() - t0

    # data generation, not part of set-up time: the first run in a
    # checkout builds every workload's inputs, whichever workload it runs
    pregrown = build_pregrown(spark, tables_dir, cache)
    if not wl.pregrown:
        pregrown = None

    state = work / "state" / wl.name
    shutil.rmtree(state, ignore_errors=True)
    if pregrown is not None:
        _link_copy(pregrown, state / "points" / wl.name)
    env = {"QUEUE": wl.name, "SCRIPT": wl.view, "STATE_DIR": str(state)}

    def set_up():
        worker = build_worker(spark, load_tables(spark, str(tables_dir)), env)
        # the view's dim lookups run eagerly while its plan is built
        worker.plan_fn(worker.tables, id_frame(0).select("value"))
        return worker

    players = _players(tables_dir) if wl.view == "player" else None
    rng = random.Random(seed)
    slice_played: dict[tuple, int] = {}
    # warm-up: the first worker and batches on a cold JVM (class loading,
    # code generation, JIT), each batch with refresh reads
    t = time.perf_counter()
    worker = build_worker(spark, load_tables(spark, str(tables_dir)), env)
    warmup, warm_errors = [time.perf_counter() - t], []
    for b in range(WARMUP_BATCHES):
        t = time.perf_counter()
        worker.process_batch(id_frame(b), b)
        for _ in range(WARMUP_READS):
            ok, _df = _refresh(wl, worker.point, known[b], players, rng, slice_played)
            if ok is not True:
                warm_errors.append(f"warm-up read {b}: {ok}")
        warmup.append(time.perf_counter() - t)
    warmup_s = sum(warmup)
    failed_warm = worker.batches_failed
    # then the set-ups of a warm process, as a restarted worker does them;
    # the last one's worker is measured (the state on disk carries over)
    rep_s = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        worker = set_up()
        rep_s.append(time.perf_counter() - t)
    first = WARMUP_BATCHES

    tracer = tracer_factory(spark)
    res = Run(
        wl, spark, worker, tracer, lines, known, pregrown,
        metrics={}, setup={"session_s": session_s, "rep_s": rep_s, "warmup_s": warmup},
        drain=Drain(merged=list(range(first))),
    )
    d = res.drain
    if failed_warm:
        d.errors.append(f"{failed_warm} warm-up batches failed")
    d.errors += warm_errors
    op = {"id": ""}
    if tracer.enabled:
        worker.plan_fn = tracer.wrap("plans", worker.plan_fn, lambda: op["id"])
        worker.point.merge = _traced_merge(res, worker.point, lambda: op["id"])

    # traced runs alternate traced and untraced batches, so the tracing
    # overhead is measured within the run: they need one of each
    min_batches = 2 if tracer.enabled else 1
    start = time.perf_counter()
    b = first
    while b < len(lines) and (
        time.perf_counter() - start < seconds or b - first < min_batches
    ):
        op["id"] = f"batch-{b}"
        if tracer.enabled:
            tracer.active = (b - first) % 2 == 0
        ids_df = id_frame(b)
        failed0 = worker.batches_failed
        d.attempted += 1
        with tracer.span("worker", op["id"]):
            t = time.perf_counter()
            try:
                worker.process_batch(ids_df, b)
            except Exception as exc:  # noqa: BLE001 - a failed batch is a counted failure
                d.errors.append(f"batch {b}: {type(exc).__name__}: {exc}"[:300])
                d.failed += 1
            dt = time.perf_counter() - t
        if worker.batches_failed > failed0:
            d.failed += 1
            d.errors.append(f"batch {b} landed in the DLQ as crunch_failed")
        d.batch_s.append(dt)
        d.ids_in += len(lines[b])
        d.merged.append(b)
        tracer.collect(op["id"])
        for r in range(REFRESH_READS):
            op["id"] = f"read-{b}-{r}"
            d.attempted += 1
            df = None
            with tracer.span("read", op["id"]) as sp:
                t = time.perf_counter()
                try:
                    ok, df = _refresh(wl, worker.point, known[b], players, rng, slice_played)
                except Exception as exc:  # noqa: BLE001 - a failed read is a counted failure
                    ok = f"{type(exc).__name__}: {exc}"[:300]
                d.refresh_s.append(time.perf_counter() - t)
            if sp is not None and df is not None:
                sp.attrs["files"] = len(df.inputFiles())
            if ok is not True:
                d.failed += 1
                d.errors.append(f"read {b}/{r}: {ok}")
            tracer.collect(op["id"])
        b += 1

    res.metrics = {
        "setup_s": session_s + median(rep_s) + warmup_s,
        "heap_live_mb": _heap_live_mb(spark),
        "ids_per_s": d.ids_in / sum(d.batch_s),
        "batch_p50_s": median(d.batch_s),
        "refresh_p50_s": median(d.refresh_s),
    }
    return res


def _heap_live_mb(spark) -> float:
    """Driver JVM heap the program still holds once the drain is done.

    Python's collector runs first (py4j proxies in reference cycles pin
    JVM objects), then full JVM collections until the figure settles
    (Spark's context cleaner frees blocks asynchronously). Steadier than
    peak RSS, which follows the collector's heap sizing more than the
    program."""
    memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(5):
        gc.collect()
        memory.gc()
        now = memory.getHeapMemoryUsage().getUsed() / 2**20
        if used - now < 1.0:
            break
        used = now
        time.sleep(0.5)
    return now


def _files(vdir: Path) -> dict[int, tuple[str, int]]:
    """inode -> (bucket dir, size) of a version's data files."""
    out = {}
    for f in (vdir / "data").glob("*/*.parquet"):
        st = f.stat()
        out[st.st_ino] = (f.parent.name, st.st_size)
    return out


def _traced_merge(res: Run, point, op):
    """``PointTable.merge`` in a span, with the file facts of its commit:
    buckets rewritten vs hard-linked (inodes of the version before and
    after), bytes written, and state rows/bytes from parquet footers."""
    inner = point.merge
    tracer = res.tracer

    pointer = point.path / "CURRENT"

    def merge(*a, **k):
        if not tracer.active:
            return inner(*a, **k)
        before = _files(point.path / pointer.read_text().strip()) if pointer.exists() else {}
        with tracer.span("merge", op()):
            out = inner(*a, **k)
        vdir = point.path / pointer.read_text().strip()
        after = _files(vdir)
        buckets = {}
        for ino, (bucket, _) in after.items():
            buckets[bucket] = buckets.get(bucket, True) and ino in before
        res.merge_facts[op()] = {
            "buckets_linked": sum(buckets.values()),
            "buckets_rewritten": len(buckets) - sum(buckets.values()),
            "bytes_written": sum(sz for ino, (_, sz) in after.items() if ino not in before),
            "state_bytes": sum(sz for _, sz in after.values()),
            "state_rows": sum(
                pq.read_metadata(f).num_rows for f in (vdir / "data").glob("*/*.parquet")
            ),
        }
        return out

    return merge


def _players(tables_dir: Path) -> dict[str, str]:
    t = pq.read_table(tables_dir / "participant.parquet", columns=["api_id", "player_api_id"])
    return dict(zip(t["api_id"].to_pylist(), t["player_api_id"].to_pylist()))


def _refresh(wl, point, batch_known, players, rng, slice_played):
    """One web-tier read: (True or the reason it is wrong, the DataFrame)."""
    from pyspark.sql import functions as F

    if wl.view == "player":
        # profile lookup of a player whose match was just merged: every
        # merged participant adds at least its all-time/'all' rows
        player = players[rng.choice(batch_known)]
        df = point.read().where(F.col("player_api_id") == player)
        rows = df.collect()
        return (True if rows else f"no rows for merged player {player}"), df
    # hero/series slice of the global view; ADD never lowers `played`
    key = (rng.randrange(1, 6), rng.randrange(1, 6))
    df = point.read().where((F.col("hero_id") == key[0]) & (F.col("series_id") == key[1]))
    played = sum(r["played"] for r in df.collect())
    prev = slice_played.get(key, 0)
    slice_played[key] = played
    return (True if played >= prev else f"played fell {prev} -> {played} on {key}"), df


def check(wl: Workload, spark, res: Run, work: Path) -> dict:
    """Incremental state vs a one-shot recompute over the same ids.

    On every ADD column the state must equal the recompute (plus the
    pre-grown history where there is one). Two documented exceptions:
    a NULL state cell is MySQL's ``NULL + x = NULL`` fold of a batch whose
    partial was NULL, which a one-shot SUM cannot reproduce (counted, not
    failed); and the global view rounds ``impact_score`` per batch, so it
    may differ by up to 0.5 per merged batch. The DLQ must hold exactly
    the poison lines and no failed batch.

    The recompute runs through the view's own delta plan. It and the state
    (read through ``PointTable.read``) are collected, with the history
    from its plain-parquet copy, and compared in Python; on the big-state
    view only the players the batches touched. The rows fit in memory,
    and a Spark join over them costs more than a batch.
    """
    from pyspark.sql import functions as F

    from cruncher_spark.api import CRUNCH_VIEWS
    from cruncher_spark.merge.upsert import MergePolicy

    worker, known, merged = res.worker, res.known, res.drain.merged
    delta_plan, key, policies = CRUNCH_VIEWS[wl.view]
    key = list(key)
    ids_file = work / "state" / wl.name / "check-ids.txt"
    ids_file.write_text("\n".join(i for b in merged for i in known[b]) + "\n")
    state = worker.point.read()
    add_cols = [
        c for c in state.columns
        if c not in key and policies.get(c, MergePolicy.ADD) == MergePolicy.ADD
    ]
    doubles = {c for c, t in state.dtypes if t == "double"}
    out: dict = {"merged_batches": len(merged), "ids": sum(len(known[b]) for b in merged)}
    problems: list[str] = []
    one_shot = delta_plan(worker.tables, spark.read.text(str(ids_file)))
    recompute = _rows("recompute", one_shot, key, add_cols, problems)

    tol = {"impact_score": 0.5 * len(merged)} if wl.view == "global" else {}
    if res.pregrown is None:
        expected = recompute
        state_rows = _rows("state", state, key, add_cols, problems)
    else:
        pos = key.index("player_api_id")
        players = sorted({k[pos] for k in recompute})
        history = pq.read_table(
            history_path(res.pregrown), filters=[("player_api_id", "in", players)]
        )
        hist_rows = _rows("history", history, key, add_cols, problems)
        expected = _fold_add(hist_rows, recompute, [c in doubles for c in add_cols])
        touched = state.where(F.col("player_api_id").isin(players))
        state_rows = _rows("state", touched, key, add_cols, problems)
        new_keys = len(recompute.keys() - hist_rows.keys())
        batch_played = sum(v[add_cols.index("played")] or 0 for v in recompute.values())
        # untouched history must survive unchanged: row count and played sum
        hist = json.loads(res.pregrown.with_suffix(".json").read_text())
        total = state.agg(F.count("*").alias("rows"), F.sum("played").alias("played")).first()
        out["state_rows"] = total["rows"]
        if total["rows"] != hist["rows"] + new_keys:
            problems.append(f"state rows {total['rows']} != history {hist['rows']} + new keys {new_keys}")
        if total["played"] != hist["played"] + batch_played:
            problems.append(
                f"played sum {total['played']} != history {hist['played']} + batches {batch_played}"
            )

    row = _compare(state_rows, expected, add_cols, tol)
    out["compared_rows"] = row["rows"]
    out["null_cells"] = sum(v for k, v in row.items() if k.startswith("null_") and k != "null_played")
    for k, v in sorted(row.items()):
        if k.startswith("bad_") or k in ("missing_in_state", "missing_in_recompute", "null_played"):
            problems.append(f"{k}: {v} rows")

    poison_lines = sum(1 for b in merged for line in res.lines[b] if len(line.encode()) > 1024)
    dlq = Path(worker.quarantine_dir)
    counts = {}
    if dlq.exists():
        counts = Counter(pq.read_table(dlq, columns=["reason"])["reason"].to_pylist())
    out["dlq"] = dict(counts)
    if counts.get("crunch_failed"):
        problems.append(f"{counts['crunch_failed']} ids in the DLQ as crunch_failed")
    if counts.get("poison", 0) != poison_lines:
        problems.append(f"DLQ holds {counts.get('poison', 0)} poison ids, expected {poison_lines}")
    out["problems"] = problems
    return out


def _rows(what, df, key, cols, problems) -> dict[tuple, tuple]:
    """``df`` (a DataFrame, collected, or an Arrow table) as key tuple ->
    ADD-column tuple; a key that occurs twice is a problem (state,
    history and recompute are all key-unique)."""
    t = df.select(key + cols)
    if not isinstance(t, pa.Table):
        t = t.toArrow()
    keys = zip(*(t[c].to_pylist() for c in key))
    rows = dict(zip(keys, zip(*(t[c].to_pylist() for c in cols))))
    if len(rows) != t.num_rows:
        problems.append(f"{what}: {t.num_rows - len(rows)} duplicate keys")
    return rows


def _dec6(x: float) -> Decimal:
    """Spark's CAST(double AS DECIMAL(28,6)): the double's shortest decimal
    string rounded half-up to six places."""
    return Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _fold_add(history: dict, recompute: dict, is_double: list[bool]) -> dict:
    """History + recompute by merge/upsert.py's ADD: a key on one side
    keeps that side's values; on both, NULL + x = NULL and doubles add
    through DECIMAL(28,6)."""
    out = dict(history)
    for k, r in recompute.items():
        h = history.get(k)
        if h is None:
            out[k] = r
            continue
        out[k] = tuple(
            None if a is None or b is None
            else float(_dec6(a) + _dec6(b)) if dbl
            else a + b
            for a, b, dbl in zip(h, r, is_double)
        )
    return out


def _compare(state: dict, expected: dict, cols: list[str], tol: dict) -> dict:
    """Counts over state full-outer-join expected: rows, keys missing on
    either side, cells that differ (``bad_<col>``, beyond ``tol[col]``
    where given) and NULL state cells of present rows (``null_<col>``)."""
    counts = Counter()
    for k in state.keys() | expected.keys():
        s, e = state.get(k), expected.get(k)
        present_s = s is not None and any(v is not None for v in s)
        counts["rows"] += 1
        counts["missing_in_state"] += not present_s
        counts["missing_in_recompute"] += not (e is not None and any(v is not None for v in e))
        for i, c in enumerate(cols):
            sc = s[i] if s is not None else None
            ec = e[i] if e is not None else None
            if sc is None:
                counts[f"null_{c}"] += present_s
            elif ec is None or (abs(sc - ec) > tol[c] if c in tol else sc != ec):
                counts[f"bad_{c}"] += 1
    return {k: v for k, v in counts.items() if v or k == "rows"}
