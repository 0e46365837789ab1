"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and is a pure function of
it (and of its size arguments): the same seed gives byte-identical
inputs. The engine only ever sees the files these functions write.

- :func:`write_tables` — the ten parquet tables, in the registry's schema, the
  ``query_mix`` registry rows read (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``), at a fixed small scale.
- :func:`raw_day` / :func:`write_raw_day` — one day of
  OpenWeatherMap-shaped raw JSON observations for ``etl_daily``, one file
  per observation, with the fixture defect mix: missing required keys,
  null struct members, outliers and epoch/ISO timestamps.
- :func:`ingest_batches` — the ``ingest_cycle`` corpus (documents and
  orders) with a seeded batch assignment.
- :func:`query_order` — the ``query_mix`` order, one shuffled pass of
  the row list after another.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: table sizes (rows): the registry test data's sf0.01 scale
TABLE_ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64

WORDS = (
    "a the data key value table row column scan join hash merge sort agg "
    "group filter window stream batch query order line part customer spark "
    "vector small big fast slow"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
CITIES = [
    ("New York", "US", 12.0), ("London", "GB", 9.0), ("Tokyo", "JP", 16.0),
    ("Sydney", "AU", 22.0), ("Berlin", "DE", 8.0), ("Paris", "FR", 11.0),
    ("Madrid", "ES", 15.0), ("Rome", "IT", 15.5), ("Toronto", "CA", 7.0),
    ("Mumbai", "IN", 27.0), ("Cairo", "EG", 22.5), ("Lagos", "NG", 27.5),
    ("Lima", "PE", 19.0), ("Oslo", "NO", 5.0), ("Seoul", "KR", 12.5),
    ("Mexico City", "MX", 17.0), ("Nairobi", "KE", 18.0),
    ("Reykjavik", "IS", 4.5), ("Singapore", "SG", 27.0),
    ("Buenos Aires", "AR", 18.0),
]
CONDITIONS = ["Clear", "Clouds", "Rain", "Drizzle", "Snow", "Mist"]
EPOCH_DAY0 = date(2024, 3, 1)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """2-dp exact values (the registry's exact-mean folds pin scale 2)."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng, start: date, n_days: int, n: int) -> pa.Array:
    base = datetime(start.year, start.month, start.day)
    us = (rng.integers(0, n_days, n) * 86_400_000_000
          + int(base.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000)
    return pa.array(us, pa.timestamp("us"))


def make_texts(rng, n: int, dup_frac: float = 0.1) -> list[str]:
    """Word-salad documents of 10-99 words; ``dup_frac`` of them copy an
    earlier document, half verbatim and half with a few words changed, so
    the dedup rows and views find real duplicates."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_frac:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                for j in rng.integers(0, len(words), 2):
                    words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
                words.append("dup")
            texts.append(" ".join(words))
        else:
            idx = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[j] for j in idx))
    return texts


def documents_table(rng, n: int) -> pa.Table:
    texts = make_texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def orders_table(rng, n: int, n_customers: int) -> pa.Table:
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": _days(rng, date(1995, 1, 1), 2404, n),
        "o_orderpriority": pa.array(np.array(prio)[rng.integers(0, 5, n)]),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables, generated from ``seed``."""
    rng = _rng(seed, 0)
    n = TABLE_ROWS
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "pin"]
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    ptypes = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(segs)[rng.integers(0, 5, n["customer"])],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       rng.integers(0, 8, (n["part"], 2))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n["part"])],
            "p_type": np.array(ptypes)[rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": (900 + np.arange(n["part"]) % 1000 / 10).round(1),
        }),
        "orders": orders_table(rng, n["orders"], n["customer"]),
    }
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, date(1995, 1, 2), 2498, nl),
    })
    ne = n["events"]
    t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
    # whole seconds: stream_sessionize compares inter-arrival gaps with its
    # 7200 s threshold after truncating to seconds while its oracle uses
    # fractional epochs, so sub-second timestamps make the two disagree on
    # gaps within a second of the threshold
    ts = np.sort(rng.choice(30 * 86_400, ne, replace=False)) * 1_000_000 + t0
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50, ne), 2).clip(0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = documents_table(rng, n["documents"])
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centres = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(0, 0.7, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write :func:`tables` as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def day_str(day: int) -> str:
    return (EPOCH_DAY0 + timedelta(days=day)).isoformat()


def raw_day(seed: int, day: int, obs_per_city: int) -> list[dict]:
    """One day of raw API documents for every city in :data:`CITIES`.

    Defect mix (FIXTURES.md §1): ~2% miss a required key, ~1% carry an
    empty ``weather`` array, ~5% null a ``main`` member, ~1% are extreme
    temperature outliers and ~10% have a null epoch ``dt`` so the ISO
    ``extraction_timestamp`` fallback is used."""
    rng = _rng(seed, 1, day)
    d0 = datetime.combine(EPOCH_DAY0 + timedelta(days=day), datetime.min.time(),
                          tzinfo=timezone.utc)
    docs = []
    for city, country, base in CITIES:
        for k in range(obs_per_city):
            ts = d0 + timedelta(hours=int(24 * k / obs_per_city),
                                minutes=int(rng.integers(0, 60)))
            temp = base + rng.normal(0, 4)
            if rng.random() < 0.01:
                temp = float(rng.choice([9999.0, -500.0]))
            temp = round(float(temp), 2)
            main = {
                "temp": temp,
                "feels_like": round(temp - float(rng.uniform(0, 3)), 2),
                "temp_min": round(temp - float(rng.uniform(0, 2)), 2),
                "temp_max": round(temp + float(rng.uniform(0, 2)), 2),
                "pressure": round(1013 + float(rng.normal(0, 8)), 1),
                "humidity": float(rng.integers(20, 96)),
            }
            if rng.random() < 0.05:
                main[["humidity", "pressure", "feels_like"][int(rng.integers(0, 3))]] = None
            doc = {
                "city_name": city,
                "country_code": country,
                "extraction_timestamp": ts.replace(tzinfo=None).isoformat(),
                "dt": int(ts.timestamp()) if rng.random() > 0.1 else None,
                "main": main,
                "wind": {"speed": round(abs(float(rng.normal(4, 2))), 2),
                         "deg": float(rng.integers(0, 360))},
                "weather": [{
                    "main": CONDITIONS[int(rng.integers(0, len(CONDITIONS)))],
                    "description": "synthetic observation",
                }],
            }
            r = rng.random()
            if r < 0.02:
                del doc[["main", "wind", "weather"][int(rng.integers(0, 3))]]
            elif r < 0.03:
                doc["weather"] = []
            docs.append(doc)
    return docs


def write_raw_day(seed: int, day: int, obs_per_city: int, raw_dir: str) -> list[str]:
    """Write :func:`raw_day` into ``raw_dir``, one
    ``<YYYY-MM-DD>_obs_<n>.json`` file per document; returns the paths."""
    os.makedirs(raw_dir, exist_ok=True)
    paths = []
    for i, doc in enumerate(raw_day(seed, day, obs_per_city)):
        paths.append(os.path.join(raw_dir, f"{day_str(day)}_obs_{i:05d}.json"))
        with open(paths[-1], "w") as f:
            json.dump(doc, f)
    return paths


def ingest_batches(seed: int, n_batches: int, docs_per_batch: int,
                   orders_per_batch: int) -> list[tuple[pa.Table, pa.Table]]:
    """The ingest corpus split into ``n_batches`` (documents, orders)
    pairs of equal size. Rows are generated once and dealt to batches in
    a seeded random order, so near-duplicates land in any batch."""
    rng = _rng(seed, 2)
    docs = documents_table(rng, n_batches * docs_per_batch)
    orders = orders_table(rng, n_batches * orders_per_batch, 1_500)
    d_perm, o_perm = rng.permutation(docs.num_rows), rng.permutation(orders.num_rows)
    return [(docs.take(np.sort(d_perm[b * docs_per_batch:(b + 1) * docs_per_batch])),
             orders.take(np.sort(o_perm[b * orders_per_batch:(b + 1) * orders_per_batch])))
            for b in range(n_batches)]


def query_order(seed: int, names: list[str], passes: int) -> list[str]:
    """``passes`` consecutive seeded permutations of ``names``."""
    rng = _rng(seed, 3)
    return [names[i] for _ in range(passes) for i in rng.permutation(len(names))]
