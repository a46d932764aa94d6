"""Seeded input generators for the benchmark.

Two kinds of input, both written with pyarrow / plain JSON so that no
engine code runs while inputs are made:

* ``write_tables`` — the ten registry tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) in the schemas and value
  domains the registry keys and their DuckDB oracles are written against.
  The registry workloads read one fixed set, generated once per checkout.
* ``make_etl_inputs`` — the ``etl_write`` inputs, drawn from the run's
  seed: Bang batch JSON documents, a base table and CDC changelogs, with
  the generator's own bookkeeping of the rows the Bang export must hold.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _days(rng: np.random.Generator, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.01: 60k lineitem)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
        "lineitem": max(200, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": 500,
        "embeddings": 500,
    }


def write_tables(out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten registry tables into ``out_dir``; return row counts."""
    rng = np.random.default_rng(TABLE_SEED)
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }), f"{out_dir}/customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }), f"{out_dir}/supplier.parquet")

    np_ = n["part"]
    keys = np.arange(np_)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in rng.integers(0, 8, (np_, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [_P_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    }), f"{out_dir}/part.parquet")

    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(
            _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), pa.timestamp("us")
        ),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }), f"{out_dir}/orders.parquet")

    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), pa.timestamp("us")
        ),
    }), f"{out_dir}/lineitem.parquet")

    ne = n["events"]
    n_users = max(15, ne // 66)
    start_us = int(dt.datetime(2024, 1, 1).timestamp() * 1e6)
    ts = np.sort(start_us + rng.integers(0, 30 * 86400 * 10**6, ne))
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), f"{out_dir}/events.parquet")

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, nd, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(nv, 64)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")
    return n


# --------------------------------------------------------------------------
# etl_write inputs
# --------------------------------------------------------------------------
QUESTIONS = ["viable", "mood"]
_LIKERT = {
    "strongly disagree": 1, "disagree": 2, "neutral": 3, "agree": 4, "strongly agree": 5,
}
_LABELS = ["Strongly disagree", "disagree", "Neutral", "AGREE", " agree ",
           "Strongly agree", "no idea"]
_MOODS = ["good", "ok", "tired", "great"]


def _bang_batch(rng: np.random.Generator, batch_id: str, n_users: int, n_rounds: int,
                team_size: int, expected: list[tuple]) -> dict:
    users = [f"{batch_id}-u{i:02d}" for i in range(n_users)]
    t0 = dt.datetime(2024, 5, 1, 10, 0, 0)
    rounds = []
    for r in range(n_rounds):
        order = rng.permutation(n_users)
        teams, team_of, msgs_of = [], {}, {}
        for t in range(n_users // team_size):
            members = [users[i] for i in order[t * team_size:(t + 1) * team_size]]
            tid = f"{batch_id}-r{r}-t{t}"
            chat = []
            for m in range(int(rng.integers(0, 3 * team_size))):
                who = members[int(rng.integers(0, team_size))]
                text = " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(1, 8))))
                when = t0 + dt.timedelta(minutes=15 * r, seconds=int(rng.integers(0, 600)))
                chat.append({"user_id": who, "time": when.isoformat(), "message": text})
                n, c = msgs_of.get(who, (0, 0))
                msgs_of[who] = (n + 1, c + len(text))
            for u in members:
                team_of[u] = tid
            teams.append({"team_id": tid, "users": members, "chat": chat})
        mid = []
        for u in users:
            label = _LABELS[int(rng.integers(0, len(_LABELS)))]
            mood = _MOODS[int(rng.integers(0, len(_MOODS)))]
            mid.append({"user_id": u, "answers": [{"q": "viable", "answer": label},
                                                  {"q": "mood", "answer": mood}]})
            n, c = msgs_of.get(u, (None, None))
            expected.append((batch_id, r, u, _LIKERT.get(label.strip().lower()), mood,
                             team_of[u], n, c))
        start = t0 + dt.timedelta(minutes=15 * r)
        rounds.append({
            "index": r,
            "start_time": start.isoformat(),
            "end_time": (start + dt.timedelta(minutes=10)).isoformat(),
            "teams": teams,
            "mid_surveys": mid,
            "post_surveys": [],
        })
    return {
        "batch_id": batch_id,
        "template": "icebreaker",
        "team_size": team_size,
        "users": [{"user_id": u, "nickname": f"nick {u}", "payment": 12.0} for u in users],
        "rounds": rounds,
    }


def make_etl_inputs(out_dir: str, seed: int, size: dict) -> dict:
    """Write the seeded ``etl_write`` inputs under ``out_dir``.

    ``size`` keys: ``batches``, ``users``, ``rounds``, ``team_size``,
    ``base_rows``, ``commits``, ``stream_batches``, ``change_share``.
    Returns paths, row counts and the expected export rows.
    """
    rng = np.random.default_rng(seed)
    bang_dir = os.path.join(out_dir, "bang_batches")
    os.makedirs(bang_dir)
    expected_export: list[tuple] = []
    for b in range(size["batches"]):
        batch_id = f"s{seed}-b{b:04d}"
        doc = _bang_batch(rng, batch_id, size["users"], size["rounds"], size["team_size"],
                          expected_export)
        with open(os.path.join(bang_dir, f"{batch_id}.json"), "w") as f:
            json.dump(doc, f, indent=1)

    n_base = size["base_rows"]
    base = {
        "acct_id": np.arange(n_base, dtype=np.int64),
        "name": [f"acct-{i}" for i in range(n_base)],
        "balance": np.round(rng.uniform(0.0, 10000.0, n_base), 2),
        "tier": rng.integers(0, 5, n_base).astype(np.int32),
    }
    # several files, so that CREATE's zero-shuffle ingest writes several
    # files per bucket and the compaction after it has work to do
    base_path = os.path.join(out_dir, "base")
    os.makedirs(base_path)
    base_table = pa.table({**base, "tier": pa.array(base["tier"], pa.int32())})
    step = -(-n_base // 4)
    for i in range(4):
        _write(base_table.slice(i * step, step), os.path.join(base_path, f"part-{i}.parquet"))

    n_change = max(4, int(n_base * size["change_share"]))
    next_new = n_base
    clock = 1_700_000_000_000_000
    event_id = 0
    changelogs = []
    for c in range(size["commits"] + 1):  # the last changelog is streamed
        n_ins = n_change // 5
        n_old = n_change - n_ins
        keys = np.concatenate([
            rng.integers(0, n_base, n_old),
            np.arange(next_new, next_new + n_ins),
            rng.integers(0, n_base, max(1, n_change // 50)),  # same-commit repeats
        ]).astype(np.int64)
        next_new += n_ins
        k = len(keys)
        rows = {
            "acct_id": keys,
            "name": [f"cdc{c}-{int(x)}" for x in keys],
            "balance": np.round(rng.uniform(0.0, 10000.0, k), 2),
            "tier": pa.array(rng.integers(0, 5, k).astype(np.int32), pa.int32()),
            "is_delete": rng.random(k) < 0.1,
            "ts_us": clock + np.arange(k, dtype=np.int64) * 1000 + rng.integers(0, 999, k),
            "event_id": np.arange(event_id, event_id + k, dtype=np.int64),
        }
        clock += k * 1000 + 1000
        event_id += k
        path = os.path.join(out_dir, f"changelog_{c:02d}.parquet")
        _write(pa.table(rows), path)
        changelogs.append((path, k))

    return {
        "bang_dir": bang_dir,
        "json_files": size["batches"],
        "json_bytes": sum(
            os.path.getsize(os.path.join(bang_dir, f)) for f in os.listdir(bang_dir)
        ),
        "export_rows": expected_export,
        "base_path": base_path,
        "base_rows": n_base,
        "changelogs": [p for p, _ in changelogs[:-1]],
        "stream_changelog": changelogs[-1][0],
        "changelog_rows_each": [k for _, k in changelogs],
    }
