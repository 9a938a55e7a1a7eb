"""Seeded input generators for the benchmark workloads.

Each generator writes one input directory and a ``manifest.json`` beside
it holding the input parameters and the expected results, computed here
from the generated rows alone (never from the program under test).

    python3 perfbench/gen.py WORKLOAD SEED OUT_DIR

The same (workload, seed) always yields byte-identical files. run.py calls
this in a child process, once per seed, and reuses the directory after.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# etl_denorm: MusicBrainz-shaped bucket (artist, artist_credit_name,
# recording, area, gender as NDJSON, one object per line).
ETL = {
    "artists": 5000,
    "credits": 6000,
    "zipf_s": 1.1,            # credit rows per artist ~ Zipf(s) over artists
    "recordings_per_credit_mean": 3.0,
    "mega_artists": 3,        # solo credits carrying 1100-1600 recordings each
    "areas": 200,
    "nesting_limit": 1000,
}

# analytic_mix: TPC-H-shaped star + events + documents + embeddings, with
# the column types and value domains of the engine's gate inputs.
MIX = {
    "customers": 1500,
    "orders": 15000,
    "lineitems": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "near_dup_share": 0.10,   # documents that are a 1-token edit of another
    "exact_dup_share": 0.02,  # documents repeating another's text verbatim
    "embeddings": 500,
    "embedding_dim": 64,
}


def checksum(df: pd.DataFrame) -> int:
    """Order-insensitive checksum of a frame's rows (uint64 sum of row
    hashes). Callers pass identical column sets and dtypes on both sides."""
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return int(h.sum(dtype=np.uint64))


def _uuid(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.integers(0, 2**63, size=(n, 2), dtype=np.int64)
    return [f"{a:016x}{b:016x}" for a, b in raw]


def _iso(rng: np.random.Generator, n: int) -> list[str]:
    base = datetime(2012, 1, 1, tzinfo=timezone.utc)
    secs = rng.integers(0, 4 * 365 * 86400, size=n)
    micros = rng.integers(0, 1_000_000, size=n)
    return [(base + timedelta(seconds=int(s), microseconds=int(u)))
            .isoformat() for s, u in zip(secs, micros)]


def _ndjson(path: str, cols: dict[str, list]) -> None:
    """Write columns as NDJSON; None values are omitted from the object,
    as the reference's exports drop null fields."""
    names = list(cols)
    with open(path, "w") as f:
        for row in zip(*cols.values()):
            f.write(json.dumps({k: v for k, v in zip(names, row)
                                if v is not None}, separators=(",", ":")))
            f.write("\n")


def gen_etl(seed: int, out: str) -> dict:
    p = ETL
    rng = np.random.default_rng(seed)
    n_art, n_cred = p["artists"], p["credits"]

    # artist ids are sparse, like MusicBrainz's
    art_ids = np.sort(rng.choice(np.arange(1, 50 * n_art), n_art,
                                 replace=False)).astype(np.int64)
    area = np.where(rng.random(n_art) < 0.8,
                    rng.integers(1, p["areas"] + 1, n_art), -1)
    begin_area = np.where(rng.random(n_art) < 0.5,
                          rng.integers(1, p["areas"] + 1, n_art), -1)
    gender = np.where(rng.random(n_art) < 0.6, rng.integers(1, 4, n_art), -1)
    year = rng.integers(1900, 2010, n_art)
    art_names = [f"Artist {i}" for i in range(n_art)]
    opt = lambda a: [None if v < 0 else int(v) for v in a]  # noqa: E731
    _ndjson(os.path.join(out, "artist.json"), {
        "id": art_ids.tolist(), "gid": _uuid(rng, n_art), "name": art_names,
        "sort_name": [f"{n}, The" for n in art_names],
        "begin_date_year": year.tolist(),
        "begin_date_month": rng.integers(1, 13, n_art).tolist(),
        "begin_date_day": rng.integers(1, 29, n_art).tolist(),
        "end_date_year": [None] * n_art, "end_date_month": [None] * n_art,
        "end_date_day": [None] * n_art,
        "type": rng.integers(1, 3, n_art).tolist(), "area": opt(area),
        "gender": opt(gender), "comment": [""] * n_art,
        "edits_pending": [0] * n_art, "last_updated": _iso(rng, n_art),
        "ended": (rng.random(n_art) < 0.1).tolist(),
        "begin_area": opt(begin_area), "end_area": [None] * n_art,
    })
    _ndjson(os.path.join(out, "area.json"), {
        "id": list(range(1, p["areas"] + 1)),
        "name": [f"Area {i}" for i in range(1, p["areas"] + 1)]})
    _ndjson(os.path.join(out, "gender.json"), {
        "id": [1, 2, 3], "name": ["Male", "Female", "Other"]})

    # artist_credit_name: 1-3 artists per credit, artists drawn Zipf so a
    # few artists carry thousands of credit rows (the skewed join key)
    rank_to_art = rng.permutation(n_art)
    weights = 1.0 / np.arange(1, n_art + 1) ** p["zipf_s"]
    weights /= weights.sum()
    n_per = rng.choice([1, 2, 3], size=n_cred, p=[0.85, 0.12, 0.03])
    cred_ids = (np.arange(n_cred, dtype=np.int64) * 7 + 1000)
    acn_credit = np.repeat(cred_ids, n_per)
    acn_pos = np.concatenate([np.arange(k) for k in n_per]).astype(np.int64)
    acn_art = art_ids[rank_to_art[rng.choice(n_art, size=len(acn_credit),
                                             p=weights)]]
    # mega credits: solo credits of mid-ranked artists, >1000 recordings each
    mega_art = art_ids[rank_to_art[100:100 + p["mega_artists"]]]
    mega_cred = cred_ids[-1] + 7 * np.arange(1, p["mega_artists"] + 1)
    acn_credit = np.concatenate([acn_credit, mega_cred])
    acn_pos = np.concatenate([acn_pos, np.zeros(p["mega_artists"], np.int64)])
    acn_art = np.concatenate([acn_art, mega_art])
    n_acn = len(acn_credit)
    phrases = np.array(["", " & ", " feat. ", ", "])
    _ndjson(os.path.join(out, "artist_credit_name.json"), {
        "artist_credit": acn_credit.tolist(), "position": acn_pos.tolist(),
        "artist": acn_art.tolist(),
        "name": [f"Credited {a}" for a in acn_art],
        "join_phrase": phrases[rng.integers(0, 4, n_acn)].tolist(),
    })

    # recording: geometric count per credit, plus the mega credits
    per_cred = rng.geometric(1.0 / p["recordings_per_credit_mean"], n_cred)
    mega_n = rng.integers(1100, 1600, p["mega_artists"])
    rec_credit = np.concatenate([np.repeat(cred_ids, per_cred),
                                 np.repeat(mega_cred, mega_n)])
    n_rec = len(rec_credit)
    rec_ids = np.arange(n_rec, dtype=np.int64) * 3 + 500
    rec_len = 60_000 + rec_ids  # unique, so children are distinguishable
    _ndjson(os.path.join(out, "recording.json"), {
        "id": rec_ids.tolist(), "gid": _uuid(rng, n_rec),
        "name": [f"Song {i}" for i in range(n_rec)],
        "artist_credit": rec_credit.tolist(), "length": rec_len.tolist(),
        "comment": [""] * n_rec, "edits_pending": [0] * n_rec,
        "last_updated": _iso(rng, n_rec),
        "video": (rng.random(n_rec) < 0.05).tolist(),
    })

    # expected results, by pandas joins over the generated columns
    art = pd.DataFrame({"artist_id": art_ids, "area": area,
                        "begin_area": begin_area, "gender": gender})
    acn = pd.DataFrame({"credit": acn_credit, "artist_id": acn_art,
                        "position": acn_pos})
    rec = pd.DataFrame({"credit": rec_credit, "recording_id": rec_ids,
                        "recording_length": rec_len})
    flat = art.merge(acn, on="artist_id").merge(rec, on="credit")
    flat_key = flat[["artist_id", "recording_id", "position"]]
    name = lambda ids, fmt: [fmt(i) if i > 0 else "" for i in ids]  # noqa
    genders = {1: "Male", 2: "Female", 3: "Other"}
    looked = pd.DataFrame({
        "artist_id": flat["artist_id"], "recording_id": flat["recording_id"],
        "artist_area": name(flat["area"], lambda i: f"Area {i}"),
        "artist_gender": name(flat["gender"], genders.get),
        "artist_begin_area": name(flat["begin_area"],
                                  lambda i: f"Area {i}")})
    children = acn.merge(rec, on="credit")
    per_art = children.groupby("artist_id").size().reindex(
        art_ids, fill_value=0).to_numpy()
    limit = p["nesting_limit"]
    rows_per_art = (np.maximum(per_art, 1) - 1) // limit + 1
    files = {t: os.path.getsize(os.path.join(out, f"{t}.json"))
             for t in ("artist", "artist_credit_name", "recording", "area",
                       "gender")}
    return {
        "params": p, "input_bytes": sum(files.values()), "files": files,
        "rows": {"artist": n_art, "artist_credit_name": n_acn,
                 "recording": n_rec},
        "expect": {
            "simple": {"rows": len(flat), "checksum": checksum(flat_key)},
            "simple-with-lookups": {"rows": len(flat),
                                    "checksum": checksum(looked)},
            "nested": {
                "rows": int(rows_per_art.sum()),
                "split_rows": int((rows_per_art - 1).sum()),
                "children": len(children),
                "checksum": checksum(children[["artist_id",
                                               "recording_length",
                                               "position"]]),
            },
        },
    }


_VOCAB = ("batch part spark line column order small sort fast value scan a "
          "hash slow group agg filter query big key window row table stream "
          "merge data the join customer vector").split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(rng, n, start: datetime, days: int, whole_days: bool) -> pa.Array:
    base = int(start.timestamp() * 1_000_000)
    if whole_days:
        off = rng.integers(0, days, n) * 86_400_000_000
    else:
        off = rng.integers(0, days * 86_400_000_000, n)
    return pa.array(base + off, pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def gen_mix(seed: int, out: str) -> dict:
    p = MIX
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(np.asarray(a, np.int32))  # noqa: E731
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa

    _write(out, "region", {"r_regionkey": i32(range(5)),
                           "r_name": pa.array(_REGIONS)})
    _write(out, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": pa.array([f"NATION_{i}"
                                               for i in range(25)]),
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    nc, no, nl = p["customers"], p["orders"], p["lineitems"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, nc)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(100, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(100)]),
        "s_nationkey": i32(rng.integers(0, 25, 100)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, 100))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(2000, dtype=np.int64)),
        "p_name": pa.array([" ".join(vocab3) for vocab3 in
                            np.array(_VOCAB)[rng.integers(0, len(_VOCAB),
                                                          (2000, 3))]]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(11, 56, 2000)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                     "ECONOMY", "PROMO"])
                           [rng.integers(0, 6, 2000)]),
        "p_size": i32(rng.integers(1, 51, 2000)),
        "p_retailprice": pa.array(money(900, 2100, 2000))})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])
                                  [rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(money(1000, 500000, no)),
        "o_orderdate": _ts(rng, no, datetime(1995, 1, 1), 2404, True),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, no)])})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, nl, dtype=np.int64)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])
                                 [rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(rng, nl, datetime(1995, 1, 2), 2498, True)})
    ne = p["events"]
    ts = np.sort(_ts(rng, ne, datetime(2024, 1, 1), 30, False)
                 .cast(pa.int64()).to_numpy())
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, p["users"], ne, dtype=np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase",
                                         "signup", "view"])
                               [rng.integers(0, 5, ne)]),
        "value": pa.array(money(0.01, 500, ne)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, ne)])})

    # documents: random text over a small vocabulary, with a stated share
    # of 1-token-edit near-duplicates and verbatim exact duplicates
    nd = p["documents"]
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    n_near = n_exact = 0
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < p["near_dup_share"]:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(
                vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
            n_near += 1
        elif i > 10 and r < p["near_dup_share"] + p["exact_dup_share"]:
            texts.append(texts[int(rng.integers(0, i))])
            n_exact += 1
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     rng.integers(10, 100))]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.choice(5, nd, p=[.44, .14, .15, .13,
                                                    .14])]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64))})
    nv, dim = p["embeddings"], p["embedding_dim"]
    labels = rng.integers(0, 10, nv)
    centers = rng.uniform(-0.3, 0.3, (10, dim))
    vecs = (centers[labels] + rng.normal(0, 0.08, (nv, dim))).astype(
        np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels)})
    files = {f[:-8]: os.path.getsize(os.path.join(out, f))
             for f in sorted(os.listdir(out)) if f.endswith(".parquet")}
    return {"params": p, "input_bytes": sum(files.values()), "files": files,
            "rows": {"near_dups": n_near, "exact_dups": n_exact}}


GENERATORS = {"etl_denorm": gen_etl, "analytic_mix": gen_mix}


def main(workload: str, seed: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, out)
    manifest.update(workload=workload, seed=seed)
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out, "manifest.json"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3])
