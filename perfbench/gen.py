"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from one integer
seed, so the same seed gives byte-identical files.  Only numpy, pyarrow and
the standard library are used: no Spark, so the bytes do not depend on
partitioning or task order.

``make_tables`` writes the ten testdata tables the registered queries and
their DuckDB oracles read.  Their shape was measured once on the
repository's sf0.001/sf0.01/sf0.1 fixture tables (pyarrow 16.1.0 files);
each parameter below carries the figure it reproduces:

- row counts scale with sf as the fixtures' do (customer 150k x sf,
  supplier 10k x sf, part 200k x sf, orders 1.5M x sf, lineitem 6M x sf,
  events 1M x sf; documents 500 and embeddings 500 up to sf0.01);
- column names and arrow types are the fixtures'; timestamps are
  ``timestamp[us]`` without the UTC-adjusted flag, as all three fixture
  sizes store them (the nanosecond encoding ``sources.batch`` also accepts
  is not what the fixtures hold);
- every key and category column is uniform over its measured domain and
  independent of the others (lineitem's order keys, dates and prices
  included: sf0.1 lineitem has 147,236 distinct of 150,000 order keys, the
  1 - e^-4 share of uniform draws);
- events.value is an exponential with mean 50 rounded to cents (sf0.1:
  mean 49.87, sd 49.56, 100% two-decimal); events.ts is sorted, uniform
  with microseconds over the 30 days from 2024-01-01; user ids 15 per 1000
  events;
- documents are 10-100 words (uniform; sf0.1 mean 54.1) from the fixtures'
  30-word vocabulary, 5% of them (250 of 5000) another document's text
  plus " dup"; lang en 40%, de/es/fr/zh 15% each; source ``src{i % 20}``;
- embeddings are 64-d unit vectors of iid normals with a uniform label in
  0..9 (sf0.1: the per-label mean has norm 0.07 = 1/sqrt(200), i.e. no
  cluster structure).

``make_backlog`` writes a Kafka-shaped JSON-lines backlog for the three
Steam topics, one file per micro-batch.  Record shapes are ``schemas.py``'s
REVIEW/GAME_INFO/PLAYER_COUNT schemas; value distributions follow the "Gen
hint" column of FIXTURES.md (drawn there from the reference pipeline's
producers and captured data).  Where FIXTURES.md gives a shape but no
parameter (the lognormal and Zipf exponents), the parameter is assumed and
marked so below.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bigdata_20251_steam_spark.schemas import TESTDATA_TABLES

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
_GENRES = (
    "Action", "Adventure", "Casual", "Free To Play", "Indie", "RPG",
    "Racing", "Simulation", "Sports", "Strategy",
)
_CATEGORIES = ("Single-player", "Multi-player", "Steam Achievements", "Co-op", "Steam Cloud")
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_EPOCH_2025_S = 1_735_689_600  # 2025-01-01T00:00:00Z


@dataclass(frozen=True)
class TableSizes:
    """Rows per table at fixture scale ``scale``; tables outside ``read``
    are written with no rows (the oracles' views still need the file)."""

    scale: float = 0.01
    documents: int = 500
    embeddings: int = 500
    read: tuple[str, ...] = TESTDATA_TABLES

    def rows(self) -> dict[str, int]:
        s = self.scale
        n = {
            "region": 5,
            "nation": 25,
            "customer": int(150_000 * s),
            "supplier": int(10_000 * s),
            "part": int(200_000 * s),
            "orders": int(1_500_000 * s),
            "lineitem": int(6_000_000 * s),
            "events": int(1_000_000 * s),
            "documents": self.documents,
            "embeddings": self.embeddings,
        }
        return {t: (k if t in self.read else 0) for t, k in n.items()}


def _pick(rng: np.random.Generator, values, n: int) -> list:
    return np.array(values)[rng.integers(0, len(values), n)].tolist()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first_us: int, days: int, n: int) -> pa.Array:
    return pa.array(first_us + rng.integers(0, days, n) * _DAY_US, pa.timestamp("us"))


def _region(rng, n, rows):
    return {"r_regionkey": pa.array(range(n), pa.int32()), "r_name": list(_REGIONS[:n])}


def _nation(rng, n, rows):
    return {
        "n_nationkey": pa.array(range(n), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n)],
        "n_regionkey": pa.array([i % 5 for i in range(n)], pa.int32()),
    }


def _customer(rng, n, rows):
    return {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    }


def _supplier(rng, n, rows):
    return {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }


def _part(rng, n, rows):
    adj, noun = _pick(rng, _PART_ADJ, n), _pick(rng, _PART_NOUN, n)
    return {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    }


def _orders(rng, n, rows):
    return {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(rows["customer"], 1), n), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, _EPOCH_1995_US, 2405, n),  # 1995-01-01 .. 2001-08-01
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    }


def _lineitem(rng, n, rows):
    return {
        "l_orderkey": pa.array(rng.integers(0, max(rows["orders"], 1), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(rows["part"], 1), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(rows["supplier"], 1), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, _EPOCH_1995_US + _DAY_US, 2499, n),  # .. 2001-11-04
    }


def _events(rng, n, rows):
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n))
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n * 15 // 1000, 1), n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng, n, rows):
    texts = [" ".join(_pick(rng, _VOCAB, int(k))) for k in rng.integers(10, 101, n)]
    dups = rng.choice(n, size=n // 20, replace=False) if n >= 20 else np.zeros(0, np.int64)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, size=len(dups))):
        texts[i] = texts[j] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), size=n, p=_LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n, rows):
    vecs = rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


_MAKERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def make_tables(seed: int, out_dir: str, sizes: TableSizes = TableSizes()) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return rows per table.

    Each table draws from its own stream of the seed, so a table's bytes do
    not depend on which other tables are read.
    """
    rows = sizes.rows()
    os.makedirs(out_dir, exist_ok=True)
    for k, name in enumerate(TESTDATA_TABLES):
        rng = np.random.default_rng([seed, 1, k])
        table = pa.table(_MAKERS[name](rng, rows[name], rows))
        # no pandas metadata, one row group: bytes depend on the data only
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 20)
    return rows


# --------------------------------------------------------------- backlog

#: topic -> directory name under the backlog root
TOPICS = ("reviews", "charts", "players")

#: players watermark is 5 minutes; keep every event within 2 minutes of
#: the running maximum so none can arrive behind the watermark
_MAX_LATENESS_S = 120


@dataclass(frozen=True)
class BacklogSizes:
    files: dict  #: topic -> number of files (one micro-batch each)
    per_file: dict  #: topic -> events per file
    apps: int = 122


DEFAULT_BACKLOG = BacklogSizes(
    files={"reviews": 3, "charts": 2, "players": 2},
    per_file={"reviews": 1500, "charts": 200, "players": 1500},
)


def _zipf_apps(rng: np.random.Generator, n_apps: int, n: int) -> np.ndarray:
    """App ranks with a few hot apps (FIXTURES.md); exponent 1.1 assumed."""
    ranks = np.arange(1, n_apps + 1, dtype=np.float64)
    p = ranks ** -1.1
    return rng.choice(n_apps, size=n, p=p / p.sum())


def _jittered_times(rng: np.random.Generator, n: int, start_s: int, step_s: float) -> np.ndarray:
    """Increasing times with local disorder bounded by ``_MAX_LATENESS_S``."""
    base = start_s + np.arange(n) * step_s
    return (base - rng.uniform(0, _MAX_LATENESS_S, n)).astype(np.int64)


def _iso(epoch_s: int, micros: int | None = None) -> str:
    d = np.datetime64(int(epoch_s), "s")
    if micros is None:
        return str(d)
    return f"{d}.{micros:06d}"


def _reviews(rng, app_ids, total):
    apps = _zipf_apps(rng, len(app_ids), total)
    # spread over 12.5 h for 5000 reviews: >= 6 distinct UTC hours
    times = _jittered_times(rng, total, _EPOCH_2025_S, 9.0)
    # ~70% up overall; one hot app (rank 3) is review-bombed, >80% down
    p_up = np.where(apps == 2, 0.15, 0.72)
    voted = rng.random(total) < p_up
    score = np.round(rng.beta(4, 4, total), 4)  # [0, 1], mass near 0.5; beta(4,4) assumed
    votes = np.minimum(rng.zipf(1.6, total) - 1, 500)  # zipf 0-500; exponent assumed
    play = np.minimum(rng.lognormal(6, 2, total), 100_000).astype(np.int64)  # minutes, 0-100000
    langs = _pick(rng, ("english",) * 8 + ("schinese", "russian"), total)
    words = np.array(_VOCAB)
    recs = []
    for i in range(total):
        text = " ".join(words[rng.integers(0, len(words), int(rng.integers(4, 16)))])
        if i % 7 == 0:
            text += "\nđã chơi 200 giờ"  # multiline, non-ASCII
        recs.append({
            "app_id": str(app_ids[apps[i]]),
            "review_id": str(100_000_000 + i),
            "author_steamid": str(76_561_198_000_000_000 + int(rng.integers(0, 10**9))),
            "playtime_at_review": int(play[i]),
            "playtime_forever": int(play[i] + rng.integers(0, 1000)),
            "language": langs[i],
            "voted_up": bool(voted[i]),
            "votes_up": int(votes[i]),
            "weighted_vote_score": float(score[i]),
            "timestamp_created": int(times[i]),
            "review_text": f"<b>{text}</b> &amp;",
            "scraped_at": _iso(int(times[i]) + 60),
        })
    return recs


def _charts(rng, app_ids, total):
    apps = _zipf_apps(rng, len(app_ids), total)
    times = _jittered_times(rng, total, _EPOCH_2025_S, 30.0)
    recs = []
    for i in range(total):
        appid = int(app_ids[apps[i]])
        k = int(rng.integers(-1, 5))  # -1: null genres, 0: empty array, else 1-4
        genres = None if k < 0 else sorted(set(_pick(rng, _GENRES, k)))
        free = bool(rng.random() < 0.2)
        initial = int(rng.integers(1, 60)) * 100 - 1
        discount = int(rng.choice([0, 0, 0, 10, 25, 50]))
        recs.append({
            "appid": appid,
            "name": f"Game {appid}",
            "primary_genre": None if rng.random() < 0.6 else _GENRES[int(rng.integers(0, 10))],
            "type": str(rng.choice(["game", "dlc", "demo"], p=[0.9, 0.07, 0.03])),
            "release_date": f"{int(rng.integers(1, 29))} Nov, 20{int(rng.integers(10, 26))}",
            "is_free": free,
            "short_description": f"A {_GENRES[int(rng.integers(0, 10))].lower()} game.",
            "developers": [f"Studio {int(x)}" for x in rng.integers(0, 300, int(rng.integers(1, 4)))],
            "publishers": [f"Publisher {int(x)}" for x in rng.integers(0, 100, int(rng.integers(1, 3)))],
            "genres": genres,
            "price_overview": None if free else {
                "currency": "USD", "initial": initial,
                "final": initial * (100 - discount) // 100, "discount_percent": discount},
            "categories": sorted(set(_pick(rng, _CATEGORIES, int(rng.integers(1, 4))))),
            "metacritic": None if rng.random() < 0.5 else int(rng.integers(40, 96)),
            "recommendations": int(min(rng.zipf(1.5), 10**7)),  # zipf; exponent assumed
            "achievements_count": int(rng.integers(0, 201)),
            "timestamp_scraped": _iso(int(times[i]), int(rng.integers(0, 10**6))),
        })
    return recs


def _players(rng, app_ids, total):
    # one sample per app about every 5 minutes, round-robin over the apps
    # (the producer polls every app; the skew is in the per-app level)
    n_apps = len(app_ids)
    slot = np.arange(total)
    base = _EPOCH_2025_S + (slot // n_apps) * 300 + (slot % n_apps) * (300 / n_apps)
    times = (base - rng.uniform(0, _MAX_LATENESS_S, total)).astype(np.int64)
    app = slot % n_apps
    # per-app level (lognormal, assumed) with a diurnal wave and 5% noise
    level = rng.lognormal(8, 1.5, n_apps)
    wave = 1 + 0.3 * np.sin(2 * np.pi * (times % 86_400) / 86_400)
    counts = np.clip(level[app] * wave * rng.normal(1, 0.05, total), 10, 500_000).astype(np.int64)
    return [
        {"appid": int(app_ids[app[i]]), "player_count": int(counts[i]), "timestamp": _iso(int(times[i]))}
        for i in range(total)
    ]


_TOPIC_MAKERS = {"reviews": _reviews, "charts": _charts, "players": _players}


def make_backlog(seed: int, out_dir: str, sizes: BacklogSizes = DEFAULT_BACKLOG) -> dict[str, dict]:
    """Write ``out_dir/<topic>/part-NNNN.json``; return per-topic counts."""
    rng = np.random.default_rng([seed, 2])
    app_ids = 10 + rng.choice(3_000_000, sizes.apps, replace=False)
    info: dict[str, dict] = {}
    for topic in TOPICS:
        n_files, per = sizes.files[topic], sizes.per_file[topic]
        total = n_files * per
        recs = _TOPIC_MAKERS[topic](rng, app_ids, total)
        tdir = os.path.join(out_dir, topic)
        os.makedirs(tdir, exist_ok=True)
        nbytes = 0
        for f in range(n_files):
            body = "".join(
                json.dumps(r, separators=(",", ":"), sort_keys=True) + "\n"
                for r in recs[f * per:(f + 1) * per]
            ).encode()
            with open(os.path.join(tdir, f"part-{f:04d}.json"), "wb") as fh:
                fh.write(body)
            nbytes += len(body)
        info[topic] = {"files": n_files, "events": total, "bytes": nbytes}
    return info
