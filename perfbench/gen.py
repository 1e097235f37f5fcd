"""Seeded input generators with planted ground truth, one per workload.

Every generator draws from ``numpy.random.default_rng([seed, stream])``, so
one seed always yields byte-identical inputs. The engine only ever sees the
files written here; the truth returned alongside them is what the checks in
``workloads.py`` compare engine output against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# medallion_etl: raw TLC monthly files
# ---------------------------------------------------------------------------

ETL_MONTHS = [(2023, m) for m in range(1, 3)]
ETL_ROWS_PER_FILE = 10_000
ETL_CORRUPT_FILE = "yellow_tripdata_2023-03.parquet"
ETL_TOLERANCE_S = 3600  # pipeline.ingest_bronze's default tolerance_hours=1


@dataclass
class EtlTruth:
    source_dir: str
    valid_files: list[str]
    corrupt_file: str
    bronze_rows: dict[str, int]  # file basename -> rows inside its window
    windows: dict[str, tuple[str, str]]  # file basename -> [lo, hi)
    source_rows: int
    source_bytes: int


def _month_start(y: int, m: int) -> np.datetime64:
    return np.datetime64(f"{y:04d}-{m:02d}-01T00:00:00", "s")


def _next_month(y: int, m: int) -> np.datetime64:
    return _month_start(y + 1, 1) if m == 12 else _month_start(y, m + 1)


def etl_inputs(seed: int, out_dir: str) -> EtlTruth:
    """Two monthly ``yellow_tripdata_YYYY-MM.parquet`` files in raw TLC
    column names and types, plus one corrupt file. Each month plants rows
    inside the one-hour tolerance window before the month (kept), rows
    beyond it, prior-year rows and next-month rows (all dropped)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    truth = EtlTruth(out_dir, [], ETL_CORRUPT_FILE, {}, {}, 0, 0)
    for y, m in ETL_MONTHS:
        n = ETL_ROWS_PER_FILE
        start, nxt = _month_start(y, m), _next_month(y, m)
        span = int((nxt - start).astype(int))
        kind = rng.choice(5, size=n, p=[0.95, 0.02, 0.01, 0.01, 0.01])
        off = rng.integers(0, span, size=n)
        off = np.where(kind == 1, -rng.integers(1, ETL_TOLERANCE_S + 1, size=n), off)
        off = np.where(kind == 2, -rng.integers(ETL_TOLERANCE_S + 1, 3 * 86400, size=n), off)
        off = np.where(kind == 3, off - 365 * 86400, off)
        off = np.where(kind == 4, span + rng.integers(0, 10 * 86400, size=n), off)
        pickup = start + off.astype("timedelta64[s]")
        dropoff = pickup + rng.integers(60, 3600, size=n).astype("timedelta64[s]")
        pc = rng.integers(0, 7, size=n).astype("float64")
        pc_null = rng.random(n) < 0.01
        fare = np.round(rng.gamma(2.0, 8.0, size=n), 2)
        extra = rng.choice([0.0, 0.5, 1.0, 2.5], size=n)
        tip = np.round(fare * rng.choice([0.0, 0.1, 0.15, 0.2], size=n), 2)
        tolls = np.where(rng.random(n) < 0.05, 6.55, 0.0)
        total = np.round(fare + extra + 0.5 + 1.0 + tip + tolls + 2.5, 2)
        table = pa.table(
            {
                "VendorID": pa.array(rng.integers(1, 3, size=n), pa.int32()),
                "tpep_pickup_datetime": pa.array(pickup.astype("datetime64[us]")),
                "tpep_dropoff_datetime": pa.array(dropoff.astype("datetime64[us]")),
                "passenger_count": pa.array(pc, pa.float64(), mask=pc_null),
                "trip_distance": pa.array(np.round(rng.gamma(1.5, 2.0, size=n), 2)),
                "RatecodeID": pa.array(rng.choice([1.0, 2.0, 5.0], size=n)),
                "store_and_fwd_flag": pa.array(rng.choice(["N", "Y"], size=n, p=[0.99, 0.01])),
                "PULocationID": pa.array(rng.integers(1, 266, size=n), pa.int32()),
                "DOLocationID": pa.array(rng.integers(1, 266, size=n), pa.int32()),
                "payment_type": pa.array(rng.integers(1, 5, size=n), pa.int64()),
                "fare_amount": pa.array(fare),
                "extra": pa.array(extra),
                "mta_tax": pa.array(np.full(n, 0.5)),
                "tip_amount": pa.array(tip),
                "tolls_amount": pa.array(tolls),
                "improvement_surcharge": pa.array(np.full(n, 1.0)),
                "total_amount": pa.array(total),
                "congestion_surcharge": pa.array(np.full(n, 2.5)),
                "Airport_fee": pa.array(np.where(rng.random(n) < 0.1, 1.25, 0.0)),
            }
        )
        name = f"yellow_tripdata_{y:04d}-{m:02d}.parquet"
        path = os.path.join(out_dir, name)
        pq.write_table(table, path)
        lo = start - np.timedelta64(ETL_TOLERANCE_S, "s")
        truth.valid_files.append(path)
        truth.bronze_rows[name] = int(((pickup >= lo) & (pickup < nxt)).sum())
        truth.windows[name] = (str(lo).replace("T", " "), str(nxt).replace("T", " "))
        truth.source_rows += n
        truth.source_bytes += os.path.getsize(path)
    with open(os.path.join(out_dir, ETL_CORRUPT_FILE), "wb") as fh:
        fh.write(b"PAR1" + rng.bytes(4096) + b"PAR1")
    return truth


# ---------------------------------------------------------------------------
# gold_serving: time-sliced jobs of a versioned gold table
# ---------------------------------------------------------------------------

SERVE_SLICES = 3
SERVE_ROWS_PER_SLICE = 20000
SERVE_SLICE_DAYS = 30
SERVE_UPDATE_ROWS = 40
SERVE_INSERT_ROWS = 2
SERVE_ZONES = 265
_BOROUGHS = ["Bronx", "Brooklyn", "EWR", "Manhattan", "Queens", "Staten Island"]
SERVE_COLUMNS = [
    "trip_id", "pickup_ts", "pickup_year", "pickup_month", "pickup_day",
    "pickup_hour", "PULocationID", "passenger_count", "trip_distance",
    "fare_amount", "total_amount",
]  # fmt: skip


@dataclass
class ServeInputs:
    slice_files: list[str]
    zones_file: str
    zones: pd.DataFrame
    rows: pd.DataFrame  # every row of every slice: the table's first version
    first_new_id: int  # trip ids from here on are free for inserts


def _trips(rng, trip_ids: np.ndarray, t0: np.datetime64, span_s: int) -> pd.DataFrame:
    n = len(trip_ids)
    ts = t0 + np.sort(rng.integers(0, span_s, size=n)).astype("timedelta64[s]")
    # tz-aware, so parquet marks it UTC-adjusted and Spark reads TIMESTAMP,
    # the type createDataFrame gives the upsert batches too
    ts = pd.DatetimeIndex(ts.astype("datetime64[us]")).tz_localize("UTC")
    fare = np.round(rng.gamma(2.0, 8.0, size=n), 2)
    return pd.DataFrame(
        {
            "trip_id": trip_ids.astype("int64"),
            "pickup_ts": ts,
            "pickup_year": ts.year.astype("int32"),
            "pickup_month": ts.month.astype("int32"),
            "pickup_day": ts.day.astype("int32"),
            "pickup_hour": ts.hour.astype("int32"),
            "PULocationID": rng.integers(1, SERVE_ZONES + 1, size=n).astype("int32"),
            "passenger_count": rng.integers(1, 7, size=n).astype("int32"),
            "trip_distance": np.round(rng.gamma(1.5, 2.0, size=n), 2),
            "fare_amount": fare,
            "total_amount": np.round(fare * 1.2 + 4.0, 2),
        }
    )


def _write_frame(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def serve_inputs(seed: int, out_dir: str) -> ServeInputs:
    """``SERVE_SLICES`` consecutive thirty-day slices of trips with unique,
    increasing trip ids, and a 265-row zone dimension."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    t0 = _month_start(2023, 1)
    files, frames = [], []
    next_id = 1_000_000
    for i in range(SERVE_SLICES):
        ids = np.arange(next_id, next_id + SERVE_ROWS_PER_SLICE)
        next_id += SERVE_ROWS_PER_SLICE
        df = _trips(
            rng, ids, t0 + np.timedelta64(i * SERVE_SLICE_DAYS, "D"), SERVE_SLICE_DAYS * 86400
        )
        path = os.path.join(out_dir, f"slice_{i:03d}.parquet")
        _write_frame(df, path)
        files.append(path)
        frames.append(df)
    names = set()
    while len(names) < SERVE_ZONES:
        names.add("".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=8)))
    zones = pd.DataFrame(
        {
            "PULocationID": np.arange(1, SERVE_ZONES + 1, dtype="int32"),
            "Borough": rng.choice(_BOROUGHS, size=SERVE_ZONES),
            "Zone": sorted(names),
        }
    )
    zones_file = os.path.join(out_dir, "zones.parquet")
    _write_frame(zones, zones_file)
    return ServeInputs(files, zones_file, zones, pd.concat(frames, ignore_index=True), next_id)


def serve_update_batch(
    rng: np.random.Generator, inp: ServeInputs, state: pd.DataFrame, new_id: int
) -> pd.DataFrame:
    """One batch of late corrections: ``SERVE_UPDATE_ROWS`` existing trips
    from the two most recent slices, with corrected fares, plus
    ``SERVE_INSERT_ROWS`` new trips, numbered from ``new_id``, at the end
    of the last slice. ``state`` is the table's current rows by trip id."""
    last = SERVE_SLICES - 1
    pool = inp.rows["trip_id"].to_numpy().reshape(SERVE_SLICES, SERVE_ROWS_PER_SLICE)
    recent = SERVE_UPDATE_ROWS * 3 // 4  # the rest come from the slice before
    picks = list(rng.choice(pool[last], size=recent, replace=False))
    picks += list(rng.choice(pool[last - 1], size=SERVE_UPDATE_ROWS - recent, replace=False))
    upd = state.loc[picks].reset_index(drop=True)
    fare = np.round(upd["fare_amount"].to_numpy() + rng.uniform(-3, 3, size=len(upd)), 2)
    upd["fare_amount"] = np.maximum(fare, 2.5)
    upd["total_amount"] = np.round(upd["fare_amount"] * 1.2 + 4.0, 2)
    t_last = _month_start(2023, 1) + np.timedelta64(last * SERVE_SLICE_DAYS, "D")
    ids = np.arange(new_id, new_id + SERVE_INSERT_ROWS)
    new = _trips(rng, ids, t_last, SERVE_SLICE_DAYS * 86400)
    return pd.concat([upd[SERVE_COLUMNS], new[SERVE_COLUMNS]], ignore_index=True)


# ---------------------------------------------------------------------------
# corpus_curation: documents and embeddings
# ---------------------------------------------------------------------------

CORPUS_BASE_DOCS = 600
CORPUS_EXACT_GROUPS = 30  # each: a base doc plus 1-2 verbatim copies
CORPUS_NEAR_GROUPS = 30  # each: a base doc plus 2-3 copies with ~2% words replaced
CORPUS_LOW_QUALITY = 40  # too short, or one word repeated
CORPUS_VOCAB = 30_000
EMB_VECTORS = 1000
EMB_DIM = 64
EMB_GROUPS = 40  # each: 3-4 vectors within a tiny angle of one another
EMB_COSINE = 0.9  # a pair at or above this cosine is a semantic duplicate


@dataclass
class CorpusTruth:
    docs_file: str
    emb_file: str
    n_docs: int
    low_quality: set[int]
    groups: list[frozenset[int]]  # planted duplicate groups (exact and near)
    emb_pairs: set[tuple[int, int]]  # exact NumPy cosine >= EMB_COSINE, id_a < id_b
    emb: np.ndarray  # float32 vectors, row i has vec_id i


def corpus_inputs(seed: int, out_dir: str) -> CorpusTruth:
    """Documents over a vocabulary of random-letter words, so that unrelated
    documents share almost no character shingles; planted exact and near
    duplicate groups and low-quality documents; embeddings with planted
    near-neighbour groups."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=CORPUS_VOCAB)
    vocab = np.array(["".join(rng.choice(letters, size=k)) for k in lens])

    def words(k: int) -> list[str]:
        return list(vocab[rng.integers(0, CORPUS_VOCAB, size=k)])

    texts: list[str] = []
    groups: list[list[int]] = []
    for _ in range(CORPUS_BASE_DOCS):
        texts.append(" ".join(words(int(rng.integers(45, 80)))))
    bases = rng.permutation(CORPUS_BASE_DOCS)
    for b in bases[:CORPUS_EXACT_GROUPS]:
        g = [int(b)]
        for _ in range(int(rng.integers(1, 3))):
            g.append(len(texts))
            texts.append(texts[b])
        groups.append(g)
    for b in bases[CORPUS_EXACT_GROUPS : CORPUS_EXACT_GROUPS + CORPUS_NEAR_GROUPS]:
        g = [int(b)]
        src = texts[b].split(" ")
        for _ in range(int(rng.integers(2, 4))):
            cp = list(src)
            for pos in rng.choice(len(cp), size=max(1, len(cp) // 50), replace=False):
                cp[pos] = words(1)[0]
            g.append(len(texts))
            texts.append(" ".join(cp))
        groups.append(g)
    low = []
    for i in range(CORPUS_LOW_QUALITY):
        low.append(len(texts))
        if i % 2:
            texts.append(" ".join(words(int(rng.integers(5, 30)))))
        else:
            w = words(60)
            w[::3] = [w[0]] * len(w[::3])
            texts.append(" ".join(w))
    # doc ids are a permutation, so planted groups are not contiguous
    perm = rng.permutation(len(texts)).astype("int64")
    docs = pd.DataFrame({"doc_id": perm, "text": texts})
    docs_file = os.path.join(out_dir, "docs.parquet")
    _write_frame(docs.sample(frac=1.0, random_state=rng.integers(1 << 31)), docs_file)

    emb = rng.standard_normal((EMB_VECTORS, EMB_DIM))
    heads = rng.choice(EMB_VECTORS, size=EMB_GROUPS * 4, replace=False).reshape(EMB_GROUPS, 4)
    for grp in heads:
        size = int(rng.integers(3, 5))
        for j in grp[1:size]:
            emb[j] = emb[grp[0]] + 0.02 * rng.standard_normal(EMB_DIM)
    emb = emb.astype("float32")
    unit = emb.astype("float64") / np.linalg.norm(emb.astype("float64"), axis=1, keepdims=True)
    cos = unit @ unit.T
    ia, ib = np.nonzero(np.triu(cos >= EMB_COSINE, k=1))
    emb_file = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(EMB_VECTORS), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            }
        ),
        emb_file,
    )
    return CorpusTruth(
        docs_file,
        emb_file,
        len(texts),
        {int(perm[i]) for i in low},
        [frozenset(int(perm[i]) for i in g) for g in groups],
        set(zip(ia.tolist(), ib.tolist())),
        emb,
    )
