"""Seeded input generators for the benchmark.

Everything the program under test receives is made here, from a seed:

- ``crunch_tables``: the cruncher fact and dimension tables, from
  ``cruncher_spark.fixtures.generate`` scaled up, with participants drawn
  from a large player population.
- ``batch_lines``: the backlog of 1000-line id files a worker drains, each
  with a fixed share of in-batch duplicates, unknown ids and (every
  ``POISON_EVERY``-th batch, from the first on) one over-long poison id.

The crunch tables and the pre-grown player state (built in ``drain.py``
through ``PointTable.merge``) are expensive, so they come from the fixed
``BASE_SEED`` and are built once per checkout. The run seed chooses
everything that is streamed: which participants are drained and in what
order, each batch's duplicates, unknowns and poison, and the refresh-read
slices.
Generated files are cached under the cache directory keyed by their
parameters, so a repeated seed costs nothing.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

#: seed of the crunch tables and pre-grown state shared by every run
BASE_SEED = 42
#: matches generated by ``fixtures.generate`` (6 participants each)
N_MATCHES = 7000
#: players the participants are spread over (the fixture has 40)
N_PLAYERS = 200_000
BATCH_LINES = 1000
DUP_LINES = 20
UNKNOWN_LINES = 10
POISON_EVERY = 4
POISON_BYTES = 1100


def _atomic_dir(final: Path, build) -> Path:
    """Build into ``final``.tmp then rename, so a killed run never leaves
    a half-written cache entry that a later run would trust."""
    if final.exists():
        return final
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    os.replace(tmp, final)
    return final


# -- crunch tables ------------------------------------------------------------


def _write_rows(path: Path, rows: list[tuple], struct) -> None:
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    arrays = []
    for field, col in zip(schema, cols):
        if pa.types.is_map(field.type):
            col = [None if v is None else list(v.items()) for v in col]
        arrays.append(pa.array(list(col), type=field.type))
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)


def crunch_tables(
    cache: Path, n_matches: int = N_MATCHES, n_players: int = N_PLAYERS, seed: int = BASE_SEED
) -> Path:
    """The scaled crunch tables as ``<name>.parquet`` dirs (the layout
    ``cruncher_spark.worker.load_tables`` reads). Returns the directory."""

    def build(out: Path) -> None:
        from cruncher_spark.fixtures import generate
        from cruncher_spark.schemas import ALL_TABLES

        rows = generate(n_matches, seed)
        rng = random.Random(seed)
        players = [f"player-{i}" for i in range(n_players)]
        # spread participants over the large population; the fixture's
        # own 40 players keep their names, so team memberships still join
        rows["participant"] = [
            r[:3] + (players[rng.randrange(n_players)],) + r[4:]
            for r in rows["participant"]
        ]
        rows["player"] = [(p, f"name-{p}") for p in players]
        for name, struct in ALL_TABLES.items():
            d = out / f"{name}.parquet"
            d.mkdir()
            _write_rows(d / "part-0.parquet", rows[name], struct)

    return _atomic_dir(cache / f"crunch-m{n_matches}-p{n_players}-s{seed}", build)


def participant_ids(tables_dir: Path) -> list[str]:
    t = pq.read_table(tables_dir / "participant.parquet", columns=["api_id"])
    return t["api_id"].to_pylist()


def batch_lines(
    ids: list[str], seed: int, n_batches: int
) -> tuple[list[list[str]], list[list[str]]]:
    """``n_batches`` id files of ``BATCH_LINES`` lines each.

    Returns (lines per batch, distinct known ids per batch). Known ids
    never repeat across batches; each batch repeats ``DUP_LINES`` of its
    own ids, adds ``UNKNOWN_LINES`` ids no participant has and, every
    ``POISON_EVERY``-th batch from the first on (so the warm-up batch
    carries one), one id longer than the 1024-byte guard.
    """
    rng = random.Random(seed)
    order = list(ids)
    rng.shuffle(order)
    lines, known = [], []
    pos = 0
    for b in range(n_batches):
        poison = 1 if b % POISON_EVERY == 0 else 0
        n_known = BATCH_LINES - DUP_LINES - UNKNOWN_LINES - poison
        if pos + n_known > len(order):
            raise ValueError(f"only {len(order)} ids for {n_batches} batches")
        fresh = order[pos : pos + n_known]
        pos += n_known
        batch = fresh + rng.sample(fresh, DUP_LINES)
        batch += [f"p-unknown-{seed}-{b}-{i}" for i in range(UNKNOWN_LINES)]
        if poison:
            batch.append("p-poison-" + "x" * POISON_BYTES)
        rng.shuffle(batch)
        lines.append(batch)
        known.append(fresh)
    return lines, known


def write_id_files(cache: Path, tag: str, seed: int, lines: list[list[str]]) -> Path:
    """One text file per batch (a file-source micro-batch's shape)."""

    def build(out: Path) -> None:
        for b, batch in enumerate(lines):
            (out / f"batch-{b:05d}.txt").write_text("\n".join(batch) + "\n")

    digest = hashlib.sha1("\n\n".join("\n".join(b) for b in lines).encode()).hexdigest()[:12]
    return _atomic_dir(cache / f"ids-{tag}-s{seed}-{digest}", build)


def pregrown_rows_sql(n_players: int, combos_per_player: int) -> str:
    """Spark SQL expression generator for the synthetic player history.

    Row ``i`` belongs to player ``i div combos`` and takes the
    ``i mod combos``-th of a fixed stride walk over the key space
    (5 player series x 2 filters x 5 heroes x 4 modes x 4 roles = 800
    combos), so keys are unique by construction.
    """
    c = combos_per_player
    return f"""
        SELECT concat('player-', CAST(id div {c} AS STRING)) AS player_api_id,
               ((id div {c}) * 37 + (id % {c}) * 131) % 800 AS combo,
               id
        FROM range({n_players * c})
    """
