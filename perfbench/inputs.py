"""Seeded benchmark inputs.

Every input is a pure function of the seed:

- `events` parquet: the synth's source table. The seed offsets the event
  ids, so `sources.synth.pages_df` renders different coordinates while the
  synth's skew mix (25% Hotland, 15% Midland, 3% invalid) is unchanged,
  because that mix depends on the id only through a uniform hash.
- `points` parquet: the narrow table extraction and assignment would
  produce from those pages, computed in DuckDB from the synth's SQL.
- `documents` parquet: random word sequences with seed-permuted ids, the
  input of the registry's `dedup_minhash_lsh`.
- kNN query points: drawn from the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ids stay below 5e8 (× fanout ≤ 6) so the synth's id × 2654435761 hash
# never overflows a signed 64-bit integer in Spark (ANSI) or DuckDB
SEED_ID_STRIDE = 1_000_000
SEED_ID_SLOTS = 500
EVENT_TYPES = ["click", "view", "error", "purchase", "search"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join small big order group filter column query customer "
    "data stream"
).split()
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 7 * 86_400 * 1_000_000  # one week of events


def id_base(seed: int) -> int:
    return (seed % SEED_ID_SLOTS) * SEED_ID_STRIDE


def _rng(seed: int, stream: int) -> np.random.Generator:
    """An independent generator per input, for any integer seed."""
    return np.random.default_rng((seed % 2**32, stream))


def write_events(path: str, seed: int, n: int, n_files: int) -> None:
    """`n` events with ids id_base(seed) .. +n, timestamps increasing with
    the id (so a `warc_ts` cut is an id-range cut), written as `n_files`
    parquet files under the directory `path`."""
    if n > SEED_ID_STRIDE:
        raise ValueError(f"at most {SEED_ID_STRIDE} events per seed, got {n}")
    rng = _rng(seed, 0)
    i = np.arange(n, dtype=np.int64)
    ts = EPOCH_US + i * (SPAN_US // n) + rng.integers(0, SPAN_US // n, n)
    table = pa.table(
        {
            "event_id": id_base(seed) + i,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1000, n),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": np.round(rng.random(n) * 100, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    os.makedirs(path, exist_ok=True)
    for f, part in enumerate(np.array_split(i, n_files)):
        pq.write_table(table.take(part), os.path.join(path, f"part-{f:03d}.parquet"))


def write_points(path: str, events_dir: str, fanout: int, n_files: int) -> None:
    """The narrow table extraction and assignment would produce from the
    pages `sources.synth.pages_df(events_dir, fanout)` renders: (id, lat,
    lon, country_id), computed from the synth's SQL ground truth in
    DuckDB. Latitudes and longitudes are the doubles nearest to the
    rendered six-decimal strings, as extraction parses them."""
    import duckdb

    from osm_notes_ingestion_spark.sources.synth import sql_country_case, sql_lat_e6, sql_lon_e6

    con = duckdb.connect()
    try:
        table = con.execute(
            f"""SELECT id, CAST(lat_e6 AS DOUBLE) / 1e6 AS lat, CAST(lon_e6 AS DOUBLE) / 1e6 AS lon,
                       CAST({sql_country_case()} AS BIGINT) AS country_id
                FROM (SELECT id, {sql_lat_e6('id')} AS lat_e6, {sql_lon_e6('id')} AS lon_e6
                      FROM (SELECT event_id * {fanout} + i AS id
                            FROM read_parquet('{events_dir}/events.parquet/*.parquet'),
                                 range({fanout}) f(i)))
                ORDER BY id"""
        ).arrow()
    finally:
        con.close()
    os.makedirs(path)
    for f, part in enumerate(np.array_split(np.arange(table.num_rows), n_files)):
        pq.write_table(table.take(part), os.path.join(path, f"part-{f:03d}.parquet"))


def write_documents(path: str, seed: int, n: int) -> None:
    """`n` documents of 20–80 words with seed-permuted ids 0..n-1."""
    if n >= 100_000:
        raise ValueError("doc ids must stay below the corpus' planted-duplicate offset 100000")
    rng = _rng(seed, 1)
    lengths = rng.integers(20, 81, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    texts = [" ".join(ws) for ws in np.split(words, np.cumsum(lengths)[:-1])]
    pq.write_table(
        pa.table(
            {
                "doc_id": rng.permutation(n).astype(np.int64),
                "text": texts,
                "lang": ["en"] * n,
                "source": [f"src{k % 10}" for k in range(n)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        path,
    )


def knn_queries(seed: int, n: int) -> list[tuple[int, float, float]]:
    """(query_id, lat, lon) at whole microdegrees, half of them inside the
    hot Hotland rectangle and half anywhere."""
    rng = _rng(seed, 2)
    hot = rng.random(n) < 0.5
    lat = np.where(hot, rng.uniform(25, 49, n), rng.uniform(-80, 80, n))
    lon = np.where(hot, rng.uniform(-125, -65, n), rng.uniform(-180, 180, n))
    return [
        (q + 1, round(float(la), 6), round(float(lo), 6)) for q, (la, lo) in enumerate(zip(lat, lon))
    ]
