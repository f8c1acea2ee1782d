"""Seeded input generators. The same seed and sizes give the same
tables, byte for byte; the engine only ever sees their output.

Keys are Zipf-skewed: rank r is drawn with probability proportional
to 1 / r**s, and ranks map to ids through a seeded permutation so hot
ids are spread over the key range. Key skews use s = 0.99, YCSB's
default Zipfian constant (Cooper et al., SoCC 2010); word frequencies
use s = 1, Zipf's law for natural-language text.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

T0_US = 1_700_000_000 * 1_000_000
VOCAB_ZIPF_S = 1.0
DAY_S = 86_400


def _rng(seed: int, stream: int, *more: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *more])


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def zipf_ids(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=size, p=zipf_weights(n, s))].astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(T0_US + us.astype(np.int64), pa.timestamp("us"))


# -- training data (batch_pipeline) ---------------------------------------------------------


def pit_inputs(seed: int, sz: dict) -> dict[str, pa.Table]:
    """User events (two value columns), item events and labels keyed on
    (user, item). Every timestamp is a distinct second, so as-of ties
    never depend on row order."""
    rng = _rng(seed, 1)
    n_ue, n_ie, n_l = sz["user_events"], sz["item_events"], sz["labels"]
    secs = rng.choice(30 * DAY_S, n_ue + n_ie + n_l, replace=False)
    us = secs.astype(np.int64) * 1_000_000
    users = zipf_ids(rng, sz["users"], n_ue, sz["zipf_s"])
    items = zipf_ids(rng, sz["items"], n_ie, sz["zipf_s"])
    user_events = pa.table(
        {
            "user_id": users,
            "ts": _ts(us[:n_ue]),
            "amount": np.round(rng.gamma(2.0, 20.0, n_ue), 2),
            "score": rng.standard_normal(n_ue),
        }
    )
    item_events = pa.table(
        {
            "item_id": items,
            "ts": _ts(us[n_ue : n_ue + n_ie]),
            "price": np.round(rng.uniform(1.0, 500.0, n_ie), 2),
        }
    )
    labels = pa.table(
        {
            "user_id": zipf_ids(rng, sz["users"], n_l, sz["zipf_s"]),
            "item_id": zipf_ids(rng, sz["items"], n_l, sz["zipf_s"]),
            "ts": _ts(us[n_ue + n_ie :]),
            "label": rng.integers(0, 2, n_l).astype(np.float64),
        }
    )
    return {
        "user_events": user_events,
        "item_events": item_events,
        "labels": labels,
    }


# -- write path (batch_pipeline) ------------------------------------------------------


def refresh_base(seed: int, sz: dict) -> pa.Table:
    rng = _rng(seed, 2)
    n = sz["base_entities"]
    return pa.table(
        {
            "entity_id": np.arange(n, dtype=np.int64),
            "ts": _ts(np.arange(n, dtype=np.int64)),
            "value": rng.standard_normal(n),
            "batch": np.full(n, -1, dtype=np.int64),
        }
    )


def refresh_batch(seed: int, i: int, sz: dict) -> pa.Table:
    """Micro-batch ``i``: ``batch_rows`` key-unique rows, of which
    ``update_share`` update entities that exist before the batch
    (Zipf-skewed towards a hot set) and the rest insert new ids.
    Timestamps grow with ``i``, so a later batch always wins."""
    rng = _rng(seed, 3, i)
    rows = sz["batch_rows"]
    n_upd = int(round(rows * sz["update_share"]))
    n_ins = rows - n_upd
    known = sz["base_entities"] + i * n_ins
    upd = rng.permutation(known)[
        rng.choice(known, n_upd, replace=False, p=zipf_weights(known, sz["zipf_s"]))
    ]
    new = known + np.arange(n_ins, dtype=np.int64)
    ids = np.concatenate([upd.astype(np.int64), new])
    base_us = (DAY_S + i * 600) * 1_000_000
    return pa.table(
        {
            "entity_id": ids,
            "ts": _ts(base_us + np.arange(rows, dtype=np.int64)),
            "value": rng.standard_normal(rows),
            "batch": np.full(rows, i, dtype=np.int64),
        }
    )


# -- online_serving -------------------------------------------------------

FEATURES = ("f_spend", "f_visits", "f_tenure", "f_risk")


def serving_features(seed: int, sz: dict) -> pa.Table:
    rng = _rng(seed, 4)
    n = sz["entities"]
    cols = {"entity": np.arange(n, dtype=np.int64)}
    for j, name in enumerate(FEATURES):
        cols[name] = np.round(rng.gamma(2.0 + j, 10.0, n), 4)
    cols["ts"] = _ts(np.zeros(n, dtype=np.int64))
    return pa.table(cols)


def clustered_vectors(seed: int, stream: int, n: int, dim: int, k: int = 32) -> np.ndarray:
    rng = _rng(seed, stream)
    centers = rng.standard_normal((k, dim))
    x = centers[rng.integers(0, k, n)] + 0.35 * rng.standard_normal((n, dim))
    return x.astype(np.float32)


def request_kinds(seed: int, n: int, mix: dict[str, int]) -> np.ndarray:
    """Seeded request-kind indices into ``sorted(mix)``: blocks of
    ``sum(mix.values())`` requests holding exactly ``mix[k]`` of kind
    ``k``, each block in seeded order, so every seed sees the same mix."""
    names = sorted(mix)
    block = np.repeat(np.arange(len(names)), [mix[k] for k in names])
    rng = _rng(seed, 5)
    blocks = -(-n // len(block))
    return np.concatenate([rng.permutation(block) for _ in range(blocks)])[:n]


def request_entities(seed: int, n: int, sz: dict) -> np.ndarray:
    return zipf_ids(_rng(seed, 6), sz["entities"], n, sz["zipf_s"])


def flight_table(seed: int, sz: dict) -> pa.Table:
    rng = _rng(seed, 7)
    n = sz["flight_rows"]
    cols = {
        "entity": np.arange(n, dtype=np.int64),
        "label_ts": _ts(np.arange(n, dtype=np.int64) * 1_000_000),
        "label": rng.integers(0, 2, n).astype(np.float64),
    }
    for name in FEATURES:
        cols[name] = rng.standard_normal(n)
    return pa.table(cols)


# -- corpus (batch_pipeline) ---------------------------------------------------------


def corpus(seed: int, sz: dict) -> dict[str, pa.Table]:
    """Documents drawn from a Zipf vocabulary, with a planted share of
    near-duplicates (an earlier document with a few tokens replaced)
    and a boilerplate sentence on some documents; embeddings follow the
    same duplicate structure."""
    rng = _rng(seed, 8)
    n, vocab = sz["docs"], sz["vocab"]
    weights = zipf_weights(vocab, VOCAB_ZIPF_S)
    lens = rng.integers(sz["min_len"], sz["max_len"] + 1, n)
    toks = rng.choice(vocab, size=int(lens.sum()), p=weights)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [toks[bounds[i] : bounds[i + 1]].copy() for i in range(n)]
    dup_of = np.full(n, -1, dtype=np.int64)
    for i in np.flatnonzero(rng.random(n) < sz["dup_share"]):
        if i == 0:
            continue
        src = int(rng.integers(0, i))
        d = docs[src].copy()
        flip = rng.random(len(d)) < 0.05
        d[flip] = rng.choice(vocab, int(flip.sum()), p=weights)
        docs[i], dup_of[i] = d, src
    boiler = "all rights reserved terms of use apply"
    has_boiler = rng.random(n) < sz["boiler_share"]
    texts = [
        " ".join(f"w{t}" for t in d) + (" " + boiler if has_boiler[i] else "")
        for i, d in enumerate(docs)
    ]
    dim = sz["dim"]
    emb = clustered_vectors(seed, 9, n, dim, k=max(4, n // 64)).astype(np.float64)
    for i in np.flatnonzero(dup_of >= 0):
        emb[i] = emb[dup_of[i]] + 0.01 * rng.standard_normal(dim)
    qn = sz["queries"]
    q_ids = rng.choice(n, qn, replace=False)
    return {
        "docs": pa.table(
            {"doc_id": np.arange(n, dtype=np.int64), "text": texts}
        ),
        "embeddings": pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(emb), pa.list_(pa.float64())),
            }
        ),
        "queries": pa.table(
            {
                "query_id": np.arange(qn, dtype=np.int64),
                "embedding": pa.array(
                    list(emb[q_ids] + 0.05 * rng.standard_normal((qn, dim))),
                    pa.list_(pa.float64()),
                ),
            }
        ),
    }

