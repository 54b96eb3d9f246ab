"""Seeded input generator for the benchmark.

Every input the engine sees is written here from ``numpy`` and
``pyarrow`` alone, so the program under test never shapes its own
inputs. Sizes are fixed per workload; the seed changes only content.
Each generator returns the ground truth the output checks need plus the
recorded input properties (rows, bytes, shares, distinct-word ratio).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# compare/full mode chunk grid: the engine's default of 32 width chunks
N_CHUNKS = 32
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------- migrate


def gen_tpch(out: str, rng: np.random.Generator, sf: float) -> dict:
    """TPC-H ``orders`` and ``lineitem`` with dense keys (one band 1..N),
    so fixed-width chunks of the split key hold equal shares of a table."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    odate = EPOCH_US + rng.integers(0, 6 * 365, n_ord) * 86_400_000_000
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(1, n_cust + 1, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 800, 500_000),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    starts = np.cumsum(lines) - lines
    lineitem = pa.table(
        {
            "l_orderkey": np.repeat(ok, lines),
            "l_partkey": rng.integers(1, n_part + 1, n_li),
            "l_suppkey": rng.integers(1, n_supp + 1, n_li),
            "l_linenumber": (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 100_000),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                np.repeat(odate, lines) + rng.integers(1, 122, n_li) * 86_400_000_000,
                pa.timestamp("us"),
            ),
        }
    )
    tables = {"orders": orders, "lineitem": lineitem}
    sizes = {name: _write(t, os.path.join(out, f"{name}.parquet")) for name, t in tables.items()}
    return {"tables": tables, "rows": {n: t.num_rows for n, t in tables.items()}, "bytes": sizes}


def gen_damage(
    path: str, rng: np.random.Generator, table: pa.Table, key: str, n_damaged: int
) -> dict:
    """Write to ``path`` a damaged copy of ``table`` whose differences all sit inside
    ``n_damaged`` seeded chunks of the engine's width grid over ``key``.

    Inside each damaged chunk some rows are deleted (each needs one
    INSERT), some duplicated with a changed payload column (one DELETE)
    and some modified (one DELETE plus one INSERT)."""
    keys = table.column(key).to_numpy()
    lo, hi = int(keys.min()), int(keys.max())
    width = (hi - lo) // N_CHUNKS + 1
    chunk = (keys - lo) // width
    damaged = np.sort(rng.choice(N_CHUNKS, size=n_damaged, replace=False))
    n = table.num_rows
    drop = np.zeros(n, dtype=bool)
    modify = np.zeros(n, dtype=bool)
    extra_rows = []
    payload = next(
        f.name for f in table.schema if pa.types.is_floating(f.type) and f.name != key
    )
    for c in damaged.tolist():
        idx = np.flatnonzero(chunk == c)
        pick = rng.choice(idx, size=min(len(idx), 3 * max(1, len(idx) // 50)), replace=False)
        third = len(pick) // 3
        drop[pick[:third]] = True
        modify[pick[third : 2 * third]] = True
        extra_rows.append(pick[2 * third :])
    extra = np.concatenate(extra_rows)
    vals = table.column(payload).to_numpy()
    changed = np.where(modify, vals + 1.0, vals)
    kept = table.set_column(
        table.schema.get_field_index(payload), payload, pa.array(changed)
    ).filter(pa.array(~drop))
    dup = table.take(pa.array(extra))
    dup = dup.set_column(
        dup.schema.get_field_index(payload), payload, pa.array(dup.column(payload).to_numpy() + 2.0)
    )
    damaged_table = pa.concat_tables([kept, dup])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write(damaged_table, path)
    in_damaged = np.isin(chunk, damaged)
    return {
        "key": key,
        "damaged_chunks": damaged.tolist(),
        "expect_insert": int(drop.sum() + modify.sum()),
        "expect_delete": int(len(extra) + modify.sum()),
        "damaged_rows_share": round(float(in_damaged.mean()), 6),
        "damage_rows": int(drop.sum() + modify.sum() + len(extra)),
    }


# -------------------------------------------------------------------- cdc

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def gen_cdc(
    out: str, rng: np.random.Generator, n_drops: int, rows_per_drop: int, update_share: float
) -> dict:
    """SCN-ordered change drops over the events schema, keyed by user_id.

    Keys are unique within a drop. After the first drop, ``update_share``
    of each drop updates keys landed by earlier drops; the rest are new
    keys. One earlier drop is re-delivered (a copy under a new name) just
    before the last drop: every event_id in it is at or below the applied
    SCN, so the gate must discard it whole. File mtimes ascend in
    delivery order because the file source orders drops by mtime."""
    os.makedirs(out, exist_ok=True)
    next_key = 1
    scn = 1
    live: dict[int, int] = {}
    drops = []
    for d in range(n_drops):
        n_upd = 0 if d == 0 else int(rows_per_drop * update_share)
        upd = rng.choice(np.fromiter(live, np.int64), size=n_upd, replace=False) if n_upd else np.empty(0, np.int64)
        new = np.arange(next_key, next_key + rows_per_drop - n_upd, dtype=np.int64)
        next_key += len(new)
        users = rng.permutation(np.concatenate([upd, new]))
        eids = np.arange(scn, scn + len(users), dtype=np.int64)
        scn += len(users)
        live.update(zip(users.tolist(), eids.tolist()))
        drops.append(
            pa.table(
                {
                    "event_id": eids,
                    "ts": pa.array(EPOCH_US + eids * 1000, pa.timestamp("us")),
                    "user_id": users,
                    "event_type": EVENT_TYPES[rng.integers(0, 5, len(users))],
                    "value": _money(rng, len(users), 0, 100),
                    "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, len(users)).tolist()]),
                }
            )
        )
    replay_of = int(rng.integers(0, n_drops - 1))
    order = [(f"drop_{d:04d}", drops[d]) for d in range(n_drops - 1)]
    order.append((f"drop_{n_drops - 2:04d}_replay_of_{replay_of:04d}", drops[replay_of]))
    order.append((f"drop_{n_drops - 1:04d}", drops[-1]))
    base = 1_700_000_000
    nbytes = 0
    for i, (name, t) in enumerate(order):
        path = os.path.join(out, f"{name}.parquet")
        nbytes += _write(t, path)
        os.utime(path, (base + i, base + i))
    changes = sum(t.num_rows for _, t in order)
    return {
        "expected": live,
        "replay_batch": n_drops - 1,  # zero-based delivery position
        "changes": changes,
        "bytes": nbytes,
        "drops": len(order),
        "update_share": round(update_share, 4),
        "replay_share": round(drops[replay_of].num_rows / changes, 4),
        "live_keys": len(live),
    }


# ----------------------------------------------------------------- corpus

BASE_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order filter group "
    "big stream vector"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])


def gen_corpus(
    out: str,
    rng: np.random.Generator,
    n_docs: int,
    dup_share: float,
    perturb: float,
    suffixes: int,
) -> dict:
    """Documents with near-duplicate clusters and a wide vocabulary.

    Words come from the 31-word fixture vocabulary; each token of an
    original document is perturbed with probability ``perturb`` into one
    of ``suffixes`` variants per word, which lifts distinct words into
    the thousands. A ``dup_share`` of documents copy an original and
    change a few tokens, so the near-duplicate clusters survive the
    perturbation (the copies share the perturbed tokens)."""
    os.makedirs(out, exist_ok=True)
    zipf = 1.0 / np.arange(1, len(BASE_WORDS) + 1)
    zipf /= zipf.sum()
    n_orig = int(n_docs * (1 - dup_share))
    # fixed document lengths and one copy each for the first originals:
    # the seed changes which words appear, not how much work there is
    lengths = rng.permutation(np.linspace(10, 90, n_orig).astype(int))
    texts: list[list[str]] = []
    for n_tok in lengths.tolist():
        words = [BASE_WORDS[i] for i in rng.choice(len(BASE_WORDS), size=n_tok, p=zipf)]
        flip = rng.random(n_tok) < perturb
        sfx = rng.integers(0, suffixes, n_tok)
        texts.append([f"{w}{s}" if f else w for w, f, s in zip(words, flip, sfx)])
    for parent in range(n_docs - n_orig):
        toks = list(texts[parent % n_orig])
        for j in rng.choice(len(toks), size=2, replace=False):
            toks[j] = BASE_WORDS[int(rng.integers(0, len(BASE_WORDS)))]
        texts.append(toks)
    order = rng.permutation(n_docs)
    docs = [" ".join(texts[i]) for i in order.tolist()]
    occurrences = sum(len(t) for t in texts)
    distinct = len({w for t in texts for w in t})
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pa.array(docs),
            "lang": LANGS[rng.integers(0, 5, n_docs)],
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
        }
    )
    nbytes = _write(table, os.path.join(out, "documents.parquet"))
    return {
        "rows": n_docs,
        "bytes": nbytes,
        "dup_share": dup_share,
        "distinct_words": distinct,
        "word_occurrences": occurrences,
        "text_bytes": sum(len(d.encode()) for d in docs),
        "distinct_to_occurrence": round(distinct / occurrences, 6),
    }
