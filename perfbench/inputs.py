"""Seeded inputs. Every workload input is derived from ``--seed`` here;
the library receives only the files and ids these functions produce.
Sizes are fixed per workload; only key choices, request mix, run ids
and shard splits vary with the seed, so run-to-run cost stays
comparable across seeds.

The curation queries read ``data/sf0.1``: an unmodified copy of the
suite's sf0.1 ``documents`` and ``embeddings`` fixture tables, read only."""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import uuid

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def rng_for(seed: int, stream: str) -> random.Random:
    """Independent generator per input kind, so adding one input does
    not shift the others."""
    return random.Random(f"{seed}:{stream}")


def seeded_uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


# -- orders ----------------------------------------------------------------

def write_orders_csv(n_rows: int, path: str, key_offset: int = 0, parts: int = 4) -> int:
    """Orders CSV in the recipe of ``sources.generators.generate_orders``
    (row i: ``ORD-{i+1:06d}``, ``C{i % 2000 + 1}``, the library's amount
    cycle, ``2024-01-01 + i % 400`` days) with OrderId shifted by
    ``key_offset``, as a directory of ``parts`` CSV files. Written
    directly rather than through Spark, which keeps JVM warm-up out of
    the inputs. Returns the bytes written."""
    from automated_data_pipeline_spark.sources.generators import AMOUNT_CYCLE

    os.makedirs(path)
    day0 = dt.date(2024, 1, 1)
    total = 0
    for p in range(parts):
        lo, hi = n_rows * p // parts, n_rows * (p + 1) // parts
        lines = ["OrderId,CustomerId,Amount,OrderDate"]
        for i in range(lo, hi):
            lines.append(
                f"ORD-{i + 1 + key_offset:06d},C{i % 2000 + 1},"
                f"{AMOUNT_CYCLE[i % len(AMOUNT_CYCLE)]},"
                f"{(day0 + dt.timedelta(days=i % 400)).isoformat()}"
            )
        data = "\n".join(lines) + "\n"
        with open(os.path.join(path, f"part-{p:05d}.csv"), "w") as f:
            f.write(data)
        total += len(data)
    return total


def delta_offsets(seed: int, n_bulk: int, n_delta: int, n_deltas: int) -> tuple[list[int], int]:
    """Key offsets of the delta runs: each delta's key range overlaps the
    keys present so far by about half (jittered by the seed), the rest
    are new keys. Returns the offsets and the exact final row count."""
    rng = rng_for(seed, "delta-offsets")
    hi = n_bulk  # keys present: 1..hi
    offs = []
    for _ in range(n_deltas):
        jitter = rng.randint(-n_delta // 10, n_delta // 10)
        off = max(0, hi - n_delta // 2 + jitter)
        offs.append(off)
        hi = max(hi, off + n_delta)
    return offs, hi


# -- documents ------------------------------------------------------------

def read_documents() -> list[dict]:
    """The sf0.1 documents table (``doc_id``, ``text``, ...) as rows."""
    import pyarrow.parquet as pq

    return pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]).to_pylist()


def split_shards(seed: int, ids: list[int], n: int, stream: str) -> list[list[int]]:
    """Seeded assignment of ids to ``n`` shards of near-equal size."""
    rng = rng_for(seed, f"shards:{stream}")
    ids = list(ids)
    rng.shuffle(ids)
    return [sorted(ids[i::n]) for i in range(n)]


def write_json_lines(rows: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
