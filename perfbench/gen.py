"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its seed and size arguments:
the same seed writes byte-identical inputs. The program under test only
ever sees the files these functions write.

The traffic shapes are assumptions, not measurements of Kinesis or CDC
traffic: no public trace of Kinesis/Firehose record sizes or of CDC key
skew is used. Where a parameter comes from a published workload model of
another system, its docstring names it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
#: events start here (µs since the epoch): 2024-01-01T00:00:00Z
EVENTS_T0_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000

#: Firehose record-size cap is 1000 KiB; the largest generated payload
#: stays below it so no record is refused
MAX_PAYLOAD = 900 * 1024
#: value-size law of the ETC memcached pool (generalized Pareto, location
#: 0, scale 214.476 B, shape 0.348238), as fitted in Atikoglu et al.,
#: "Workload Analysis of a Large-Scale Key-Value Store", SIGMETRICS 2012
GPD_SCALE, GPD_SHAPE = 214.476, 0.348238
#: blob runs: BLOB_RUN records of BLOB_BYTES in a row, one run per
#: BLOB_EVERY records. Five is the fewest records of at most 1000 KiB that
#: overflow 4 MiB, and 820 KiB (4 MiB / 5, rounded up) the least size at
#: which five do.
BLOB_RUN, BLOB_BYTES, BLOB_EVERY = 5, 820 * 1024, 20_000
#: YCSB's Zipfian constant (Cooper et al., "Benchmarking Cloud Serving
#: Systems with YCSB", SoCC 2010), used for the CDC update keys
ZIPF_THETA = 0.99

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _pad_alphabet(rng: np.random.Generator, n: int) -> str:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
    return rng.choice(letters, size=n).tobytes().decode("ascii")


def payload_sizes(rng: np.random.Generator, n: int) -> np.ndarray:
    """Heavy-tailed padding sizes in bytes for ``n`` records.

    The body follows the ETC value-size law (``GPD_SCALE``,
    ``GPD_SHAPE``), a published heavy-tailed payload law of a key-value
    cache, standing in for stream records: mean ~330 B, the largest of
    60 000 records ~35 KiB. It is taken at evenly spaced quantiles and
    shuffled, so every seed gets the same multiset of sizes in another
    order and the backlog's byte volume does not move with the seed.

    The body alone never fills a 4 MiB put before 500 records, so runs of
    ``BLOB_RUN`` blobs of ``BLOB_BYTES`` (one run per full ``BLOB_EVERY``
    records) make a put close on the byte cap. They are a synthetic
    assumption, sized to the least volume that does it. Run ``k`` starts
    at a seeded offset inside the ``k``-th equal segment of the records,
    so equal slices of the backlog carry equal blob volume.
    """
    u = (np.arange(n) + 0.5) / n
    body = GPD_SCALE / GPD_SHAPE * ((1 - u) ** -GPD_SHAPE - 1)
    sizes = rng.permutation(np.minimum(body, MAX_PAYLOAD).astype(np.int64))
    n_runs = n // BLOB_EVERY
    for k in range(n_runs):
        lo, hi = k * n // n_runs, (k + 1) * n // n_runs - BLOB_RUN
        start = int(rng.integers(lo, hi))
        sizes[start : start + BLOB_RUN] = BLOB_BYTES
    return sizes


def events_table(
    seed: int, n: int, n_users: int = 1500, heavy_payloads: bool = False
) -> pa.Table:
    """``n`` events-schema records with ids ``0..n-1``, spread in time
    order over 30 days.

    ``heavy_payloads`` pads ``props`` to the sizes of
    :func:`payload_sizes`; a blob run is given one event type
    (``purchase``) so it stays together after the bridge routes records
    by type.
    """
    rng = np.random.default_rng([seed, 0, 1])
    ts_us = EVENTS_T0_US + np.sort(rng.integers(0, EVENTS_SPAN_US, size=n))
    types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    k = rng.integers(0, 100, size=n)
    value = np.round(rng.exponential(50.0, size=n), 2)
    if heavy_payloads:
        sizes = payload_sizes(rng, n)
        big = sizes == BLOB_BYTES
        types = np.where(big, "purchase", types)
        alphabet = _pad_alphabet(rng, MAX_PAYLOAD + 4096)
        offs = rng.integers(0, 4096, size=n)
        props = [
            f'{{"k": {kk}, "blob": "{alphabet[o : o + s]}"}}'
            for kk, o, s in zip(k.tolist(), offs.tolist(), sizes.tolist())
        ]
    else:
        props = [f'{{"k": {kk}}}' for kk in k.tolist()]
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
            "event_type": types,
            "value": value,
            "props": props,
        },
        schema=EVENTS_SCHEMA,
    )


def write_slices(table: pa.Table, out_dir: str, n_slices: int) -> None:
    """Cut a time-ordered events table into ``n_slices`` replay slices,
    laid out as ``sources.streams.write_replay_slices`` lays them out:
    one parquet file (one row group) per ``slice=<i>`` directory, with
    strictly increasing modification times so the file stream source
    reads them in order, one per micro-batch."""
    bounds = np.linspace(0, table.num_rows, n_slices + 1).astype(int)
    base = 1_700_000_000
    for i in range(n_slices):
        d = os.path.join(out_dir, f"slice={i}")
        os.makedirs(d)
        path = os.path.join(d, "part-0.parquet")
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, path, row_group_size=max(1, part.num_rows))
        os.utime(path, (base + i, base + i))


# ------------------------------------------------------------ analytics


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "a the data spark stream table column row key value join group agg sort "
    "filter scan hash merge window query batch line part order customer "
    "vector small big fast slow"
).split()
LANGS = np.array(["en", "en", "de", "es", "fr", "zh"])
#: 1995-01-01 .. 2001-08-01 in days since the epoch
DAY0, DAY1 = 9131, 11535


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    us = rng.integers(DAY0, DAY1 + 1, size=n).astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def write_analytics_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the ten tables the registry's queries read (TPC-H-like star
    schema plus events, documents and embeddings) at scale ``sf``, with
    the column names and physical types of the repository's fixtures.
    Returns rows per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(200, int(20_000 * sf))
    i32 = np.int32
    tables: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": np.round(rng.uniform(0, 10_000, n_cust), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": np.round(rng.uniform(0, 10_000, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
                "o_orderdate": _days(rng, n_ord),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li),
        }
    )
    tables["events"] = events_table(seed, n_ev, n_users=max(10, int(15_000 * sf)))
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents of 8-90 words; ~4% are near-duplicates of an
    earlier document (one word changed) and ~1% exact copies, so the
    dedup queries have real work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            idx = rng.integers(0, len(WORDS), int(rng.integers(8, 91)))
            texts.append(" ".join(WORDS[j] for j in idx))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around 10 labelled centroids."""
    centroids = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    v = centroids[labels] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


# ------------------------------------------------------------ cdc


def cdc_base(seed: int, n_rows: int) -> pa.Table:
    """Base table of the cdc workload: keys ``0..n_rows-1``."""
    rng = np.random.default_rng([seed, 3])
    return pa.table(
        {
            "id": np.arange(n_rows, dtype=np.int64),
            "grp": rng.integers(0, 64, n_rows).astype(np.int64),
            "amount": np.round(rng.uniform(0, 1000, n_rows), 2),
            "version": np.zeros(n_rows, dtype=np.int64),
        }
    )


def cdc_batch(seed: int, n_base: int, batch_no: int, rows: int) -> pa.Table:
    """Upsert batch ``batch_no`` (1-based): ~90% updates of existing keys,
    ~10% inserts of fresh keys. Update keys are drawn from a bounded
    Zipfian law (``ZIPF_THETA``) over a seeded permutation of the base key
    space; the update/insert mix and the exponent are assumptions, not
    figures from a CDC trace. Keys are unique within a batch (the
    ``merge_upsert`` contract); ``version`` is the batch number, so
    last-write-wins is checkable."""
    rng = np.random.default_rng([seed, 4, batch_no])
    perm = np.random.default_rng([seed, 5]).permutation(n_base)
    n_ins = rows // 10
    w = 1.0 / np.arange(1, n_base + 1) ** ZIPF_THETA
    ranks = rng.choice(n_base, size=4 * rows, p=w / w.sum())
    upd = perm[np.unique(ranks)]
    if len(upd) < rows - n_ins:  # pad with uniform keys to a full batch
        extra = rng.choice(np.setdiff1d(perm, upd), rows - n_ins - len(upd), replace=False)
        upd = np.concatenate([upd, extra])
    upd = rng.permutation(upd)[: rows - n_ins]
    ins = n_base + (batch_no - 1) * n_ins + np.arange(n_ins)
    ids = np.concatenate([upd, ins]).astype(np.int64)
    return pa.table(
        {
            "id": ids,
            "grp": rng.integers(0, 64, len(ids)).astype(np.int64),
            "amount": np.round(rng.uniform(0, 1000, len(ids)), 2),
            "version": np.full(len(ids), batch_no, dtype=np.int64),
        }
    )
