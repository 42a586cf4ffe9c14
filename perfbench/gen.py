"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and draws from
``numpy.random.default_rng([seed, stream])``, one stream per input, so
the same seed always writes byte-identical files and one input can
change size without shifting another's draws. The engine only ever
sees the files these functions write.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# -- taxi CSV (etl_medallion) ------------------------------------------------

#: Column order of the raw CSV; matches ``reference_pipeline.TAXI_SCHEMA``.
TAXI_COLUMNS = (
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "passenger_count",
    "trip_distance",
    "PULocationID",
    "DOLocationID",
    "fare_amount",
    "total_amount",
)

#: Planted bad-row kinds. Each planted row breaks exactly one rule; a
#: dropoff before pickup necessarily also breaks the duration range.
TAXI_DEFECTS = (
    "fare_positive",
    "distance_positive",
    "passengers_positive",
    "total_positive",
    "pickup_before_dropoff",
    "duration_too_long",
)

#: Share of rows planted per defect kind.
TAXI_DEFECT_SHARE = 0.004


@dataclass(frozen=True)
class TaxiPlan:
    """What the generator planted: the quality filter must agree."""

    n_rows: int
    planted: dict[str, int]

    @property
    def n_rejected(self) -> int:
        return sum(self.planted.values())

    def fails_per_predicate(self) -> dict[str, int]:
        """Rows failing each of the six reference quality predicates."""
        p = self.planted
        return {
            "fare_positive": p["fare_positive"],
            "distance_positive": p["distance_positive"],
            "passengers_positive": p["passengers_positive"],
            "total_positive": p["total_positive"],
            "pickup_before_dropoff": p["pickup_before_dropoff"],
            "duration_range": p["pickup_before_dropoff"] + p["duration_too_long"],
        }


def taxi_csv(path: str, seed: int, n_rows: int) -> TaxiPlan:
    """Write a taxi-trip CSV (all columns as text, header first)."""
    rng = np.random.default_rng([seed, 1])
    base = np.datetime64("2023-01-01T00:00:00", "s")
    pickup = base + rng.integers(0, 59 * 24 * 3600, n_rows).astype("timedelta64[s]")
    dur_s = rng.integers(60, 120 * 60, n_rows)
    passengers = rng.integers(1, 7, n_rows)
    distance = np.round(rng.exponential(3.0, n_rows) + 0.1, 2)
    pu = rng.integers(1, 41, n_rows)
    do = rng.integers(1, 41, n_rows)
    fare = np.round(2.5 + 2.2 * distance + rng.exponential(2.0, n_rows), 2)
    total = np.round(fare * 1.15 + rng.integers(0, 3, n_rows), 2)

    n_each = max(1, int(n_rows * TAXI_DEFECT_SHARE))
    bad = rng.permutation(n_rows)[: n_each * len(TAXI_DEFECTS)]
    planted = {}
    for i, kind in enumerate(TAXI_DEFECTS):
        rows = bad[i * n_each : (i + 1) * n_each]
        planted[kind] = len(rows)
        if kind == "fare_positive":
            fare[rows] = -np.round(rng.uniform(0.5, 20.0, len(rows)), 2)
        elif kind == "distance_positive":
            distance[rows] = 0.0
        elif kind == "passengers_positive":
            passengers[rows] = 0
        elif kind == "total_positive":
            total[rows] = -np.round(rng.uniform(0.5, 20.0, len(rows)), 2)
        elif kind == "pickup_before_dropoff":
            dur_s[rows] = -rng.integers(60, 3600, len(rows))
        else:
            dur_s[rows] = rng.integers(181 * 60, 600 * 60, len(rows))
    dropoff = pickup + dur_s.astype("timedelta64[s]")
    fmt = "%Y-%m-%d %H:%M:%S"
    pd.DataFrame(
        {
            "tpep_pickup_datetime": pd.DatetimeIndex(pickup).strftime(fmt),
            "tpep_dropoff_datetime": pd.DatetimeIndex(dropoff).strftime(fmt),
            "passenger_count": passengers,
            "trip_distance": distance,
            "PULocationID": pu,
            "DOLocationID": do,
            "fare_amount": fare,
            "total_amount": total,
        },
        columns=list(TAXI_COLUMNS),
    ).to_csv(path, index=False, float_format="%.2f")
    return TaxiPlan(n_rows=n_rows, planted=planted)


# -- star schema + events (query_mix) -----------------------------------------

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PART_WORDS = np.array(["red", "blue", "small", "hot", "ring", "widget", "bolt", "gear"])
_EVENT_TYPES = np.array(["signup", "view", "click", "purchase", "error"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write_parquet(frame: pd.DataFrame, out_dir: str, name: str) -> None:
    frame.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "D") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def star_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten catalog tables (``catalog.TABLES``) at ``scale``
    (1.0 ≈ 6M lineitem rows, the TPC-H convention). Shapes and value
    domains follow the engine's schema contracts; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_orders = max(200, int(1_500_000 * scale))
    n_events = max(500, int(1_000_000 * scale))
    n_users = max(50, int(15_000 * scale))
    tables: dict[str, pd.DataFrame] = {}

    tables["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    w = rng.integers(0, len(_PART_WORDS), (n_part, 2))
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_PART_WORDS[a]} {_PART_WORDS[b]}" for a, b in w],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _PART_TYPES[rng.integers(0, len(_PART_TYPES), n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _days("1995-01-01", order_day),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": li_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(
                "1995-01-01", order_day[li_order] + rng.integers(1, 122, n_li)
            ),
        }
    )
    ts_us = np.sort(rng.integers(0, 30 * 24 * 3600 * 1_000_000, n_events))
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(40.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    n_docs = max(50, int(50_000 * scale))
    docs = corpus_texts(np.random.default_rng([seed, 3]), _vocab(seed), n_docs)
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": docs,
            "lang": "en",
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
        }
    )
    n_vec = max(50, int(20_000 * scale))
    emb_rng = np.random.default_rng([seed, 4])
    vecs = clustered_vectors(emb_rng, _centers(seed), n_vec)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs),
            "label": emb_rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    for name, frame in tables.items():
        _write_parquet(frame, out_dir, name)
    return {name: len(frame) for name, frame in tables.items()}


def query_sequences(
    seed: int, n_clients: int, names: list[str], length: int
) -> list[list[str]]:
    """One query-name sequence per client. Every lap of the mix is one
    seeded shuffle, and client ``c`` starts its lap ``c/n_clients`` of
    the way round it, so the clients' first ops together spread over
    the whole mix instead of repeating the same few queries."""
    rng = np.random.default_rng([seed, 5])
    stride = -(-len(names) // n_clients)
    out: list[list[str]] = [[] for _ in range(n_clients)]
    while len(out[0]) < length:
        lap = [names[i] for i in rng.permutation(len(names))]
        for c, seq in enumerate(out):
            k = c * stride
            seq.extend(lap[k:] + lap[:k])
    return [seq[:length] for seq in out]


# -- text corpus + embeddings (corpus_ingest_search) ---------------------------

VOCAB_SIZE = 6000
DOC_TOKENS = (60, 90)
EMB_DIM = 64
N_CLUSTERS = 24
#: Documents per embedding group; equals the top-k the search asks for.
GROUP_SIZE = 10
#: Near-duplicate floor: planted near-dups must have 3-shingle Jaccard
#: at least this far above the engine's 0.8 verify threshold.
NEAR_DUP_MIN_JACCARD = 0.85
#: Shares of each delta batch that re-send a known document verbatim
#: or lightly edited.
EXACT_DUP_SHARE = NEAR_DUP_SHARE = 0.1


def _vocab(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 6])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 9))
        words.add("".join(letters[rng.integers(0, 26, n)]))
    return np.array(sorted(words))


def _centers(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 7])
    return rng.normal(0.0, 1.0, (N_CLUSTERS, EMB_DIM))


def corpus_texts(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    lengths = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    return [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]


def clustered_vectors(
    rng: np.random.Generator, centers: np.ndarray, n: int
) -> np.ndarray:
    cells = rng.integers(0, len(centers), n)
    noise = rng.normal(0.0, 0.35, (n, centers.shape[1]))
    return (centers[cells] + noise).astype(np.float32)


def grouped_vectors(
    rng: np.random.Generator, centers: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectors in groups of :data:`GROUP_SIZE` around fresh group
    centers, which sit around the coarse ``centers``: a query near a
    group center has that group as its exact top-10, well apart from
    the rest, as documents on one topic would. Returns (vectors,
    group centers)."""
    n_groups = -(-n // GROUP_SIZE)
    groups = clustered_vectors(rng, centers, n_groups).astype(np.float64)
    members = groups[np.arange(n) // GROUP_SIZE]
    vecs = members + rng.normal(0.0, 0.05, members.shape)
    return vecs.astype(np.float32), groups


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1))}


def shingle_jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def near_duplicate(rng: np.random.Generator, vocab: np.ndarray, text: str) -> str:
    """Replace tokens at spread-out positions until just before the
    shingle-Jaccard would drop below :data:`NEAR_DUP_MIN_JACCARD`.

    One substituted token breaks up to three 3-shingles, so on a
    60–90 token document one or two substitutions keep Jaccard near
    0.86–0.93; a fixed 5% swap rate lands near 0.74 and falls under
    the 0.8 threshold."""
    toks = text.split()
    out = list(toks)
    for pos in rng.permutation(np.arange(3, len(toks) - 3, 7)):
        trial = list(out)
        trial[pos] = vocab[rng.integers(0, len(vocab))]
        if shingle_jaccard(text, " ".join(trial)) < NEAR_DUP_MIN_JACCARD:
            break
        out = trial
    if out == toks:  # always change at least one token
        out[len(toks) // 2] = vocab[rng.integers(0, len(vocab))]
    return " ".join(out)


@dataclass
class CorpusBatch:
    """One delta batch and the generator's ground truth for it."""

    frame: pd.DataFrame  # doc_id, text, embedding
    unique_ids: list[int]
    exact_dup_ids: list[int]
    near_dup_ids: list[int]
    near_jaccard: list[float]


@dataclass
class CorpusGen:
    """Stateful document source: a bootstrap corpus, then delta batches
    that re-send earlier planted-unique documents verbatim (exact
    duplicates) or lightly edited (near duplicates)."""

    seed: int
    next_id: int = 0
    _texts: list[str] = field(default_factory=list)
    _vecs: list[np.ndarray] = field(default_factory=list)
    _groups: list[np.ndarray] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._vocab = _vocab(self.seed)
        self._centers = _centers(self.seed)

    def _fresh(self, rng: np.random.Generator, n: int) -> pd.DataFrame:
        texts = corpus_texts(rng, self._vocab, n)
        vecs, groups = grouped_vectors(rng, self._centers, n)
        self._groups.extend(groups)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self._texts.extend(texts)
        self._vecs.extend(vecs)
        return pd.DataFrame({"doc_id": ids, "text": texts, "embedding": list(vecs)})

    def bootstrap(self, n: int) -> pd.DataFrame:
        return self._fresh(np.random.default_rng([self.seed, 8]), n)

    def batch(self, batch_no: int, n: int) -> CorpusBatch:
        rng = np.random.default_rng([self.seed, 9, batch_no])
        n_exact = int(n * EXACT_DUP_SHARE)
        n_near = int(n * NEAR_DUP_SHARE)
        known = len(self._texts)  # sources: planted-unique docs so far
        src = rng.choice(known, n_exact + n_near, replace=False)
        fresh = self._fresh(rng, n - n_exact - n_near)
        texts, jac = [], []
        for j, s in enumerate(src):
            if j < n_exact:
                texts.append(self._texts[s])
            else:
                t = near_duplicate(rng, self._vocab, self._texts[s])
                texts.append(t)
                jac.append(shingle_jaccard(self._texts[s], t))
        dup_ids = np.arange(self.next_id, self.next_id + len(src), dtype=np.int64)
        self.next_id += len(src)
        dups = pd.DataFrame(
            {
                "doc_id": dup_ids,
                "text": texts,
                "embedding": [self._vecs[s] for s in src],
            }
        )
        frame = pd.concat([fresh, dups], ignore_index=True)
        frame = frame.iloc[rng.permutation(len(frame))].reset_index(drop=True)
        return CorpusBatch(
            frame=frame,
            unique_ids=[int(i) for i in fresh["doc_id"]],
            exact_dup_ids=[int(i) for i in dup_ids[:n_exact]],
            near_dup_ids=[int(i) for i in dup_ids[n_exact:]],
            near_jaccard=jac,
        )

    def queries(self, batch_no: int, n: int) -> pd.DataFrame:
        """Query vectors: jittered centers of known embedding groups.
        Query ids are negative so they never collide with doc ids."""
        rng = np.random.default_rng([self.seed, 10, batch_no])
        src = rng.choice(len(self._groups), n, replace=False)
        vecs = np.stack([self._groups[s] for s in src])
        vecs = (vecs + rng.normal(0.0, 0.02, vecs.shape)).astype(np.float32)
        return pd.DataFrame(
            {"query_id": -np.arange(1, n + 1, dtype=np.int64), "embedding": list(vecs)}
        )
