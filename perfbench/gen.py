"""Seeded input generators for the three workloads.

Every generator draws from ``numpy.random.default_rng([seed, stream])``,
so the seed is mixed into every value and the same seed always gives
byte-identical files. The engine only ever sees the files written here.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# long-table columns in the raw column map's order (schemas.COL_MAP_RAW):
# id, year, name, parent_location, then 30 metric columns
METRICS = [
    "population", "renter_homes_pct", "median_gross_rent",
    "median_household_income", "median_property_value", "rent_burden",
    "white_pct", "black_pct", "latinx_pct", "aian_pct", "asian_pct",
    "nhpi_pct", "multiple_pct", "other_pct", "poverty_rate",
    "judgements", "judgement_rate", "low_flag",
    "threatened", "threatened_low", "threatened_high", "threatened_rate",
    "threatened_rate_high", "threatened_rate_low",
    "filings", "filings_high", "filings_low",
    "filing_rate", "filing_rate_low", "filing_rate_high",
]
YEARS = list(range(2000, 2019))

# the sf0.1 documents table's vocabulary and language mix
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def tree_bytes(path: str) -> int:
    """Bytes in a file, or in every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def region_inputs(out_dir: str, seed: int, places: int) -> dict:
    """Long CSV shaped like the reference's input (places x 19 years x 30
    metrics, ~1/7 cells blank, every 50th place with an empty
    parent_location) plus one polygon per place and 5% extra polygons
    with no data row."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)
    n_rows = places * len(YEARS)
    vals = np.round(rng.uniform(0, 10_000, (n_rows, len(METRICS))), 2)
    blank = rng.random((n_rows, len(METRICS))) < 1 / 7
    csv_path = os.path.join(out_dir, "long.csv")
    with open(csv_path, "w") as fh:
        fh.write(",".join(["id", "year", "name", "parent_location"] + METRICS))
        fh.write("\n")
        r = 0
        for p in range(places):
            geoid = f"{p + 1:012d}"
            parent = "" if p % 50 == 0 else f"State {p % 7}"
            for y in YEARS:
                cells = [
                    "" if blank[r, j] else repr(float(vals[r, j]))
                    for j in range(len(METRICS))
                ]
                fh.write(f"{geoid},{y},Place {p + 1},{parent},")
                fh.write(",".join(cells))
                fh.write("\n")
                r += 1

    n_shapes = places + max(1, places // 20)
    grng = _rng(seed, 2)
    lon = grng.uniform(-124.0, -67.0, n_shapes)
    lat = grng.uniform(25.0, 49.0, n_shapes)
    radius = grng.uniform(0.05, 0.4, n_shapes)
    n_vert = grng.integers(5, 10, n_shapes)
    feats = []
    for i in range(n_shapes):
        ang = np.sort(grng.uniform(0, 2 * np.pi, n_vert[i]))
        rad = radius[i] * grng.uniform(0.6, 1.0, n_vert[i])
        ring = [
            [round(float(lon[i] + r * np.cos(a)), 5),
             round(float(lat[i] + r * np.sin(a)), 5)]
            for a, r in zip(ang, rad)
        ]
        ring.append(ring[0])
        feats.append({
            "type": "Feature",
            "properties": {"GEOID": f"{i + 1:012d}"},
            "geometry": {"type": "Polygon", "coordinates": [ring]},
        })
    geo_path = os.path.join(out_dir, "shapes.geojson")
    with open(geo_path, "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)
    return {
        "long_csv": csv_path,
        "geojson": geo_path,
        "places": places,
        "rows": n_rows + n_shapes,
        "bytes": tree_bytes(csv_path) + tree_bytes(geo_path),
    }


def corpus_inputs(out_dir: str, seed: int, docs: int) -> dict:
    """``documents.parquet`` in the testdata schema (doc_id, text, lang,
    source, n_chars) with sf0.1's vocabulary and language mix; about 10%
    of documents are a copy of an earlier one plus the token ``dup``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 3)
    lens = rng.integers(10, 101, docs)
    is_dup = rng.random(docs) < 0.10
    is_dup[0] = False
    langs = rng.choice(len(LANGS), docs, p=LANG_P)
    texts: list[str] = []
    for i in range(docs):
        if is_dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), lens[i])
            texts.append(" ".join(VOCAB[w] for w in words))
    table = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in langs]),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return {
        "sf_dir": out_dir,
        "rows": docs,
        "near_dups": int(is_dup.sum()),
        "bytes": tree_bytes(path),
    }


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray,
                   files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        flat = pa.array(vecs[part].reshape(-1))
        emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1])
        table = pa.table({
            "vec_id": pa.array(ids[part]),
            "embedding": emb.cast(pa.list_(pa.float64())),
        })
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def ann_inputs(out_dir: str, seed: int, vectors: int, dim: int,
               batches: int, batch_queries: int) -> dict:
    """Clustered ``vectors`` x ``dim`` embeddings split into a base set
    (3/4) and held-out arrivals (1/4, three files = three stream
    micro-batches), plus ``batches`` x ``batch_queries`` query vectors
    that are jittered copies of base vectors."""
    rng = _rng(seed, 4)
    centers = rng.normal(0.0, 1.0, (vectors // 32, dim))
    assign = rng.integers(0, len(centers), vectors)
    vecs = centers[assign] + rng.normal(0.0, 0.1, (vectors, dim))
    ids = rng.permutation(vectors).astype(np.int64)
    held = ids % 4 == 0
    base_dir = os.path.join(out_dir, "base")
    arrivals_dir = os.path.join(out_dir, "arrivals")
    _write_vectors(base_dir, ids[~held], vecs[~held])
    _write_vectors(arrivals_dir, ids[held], vecs[held], files=3)

    n_q = batches * batch_queries
    base_pos = np.flatnonzero(~held)
    src = base_pos[rng.integers(0, len(base_pos), n_q)]
    qvecs = vecs[src] + rng.normal(0.0, 0.02, (n_q, dim))
    q_path = os.path.join(out_dir, "queries.parquet")
    qflat = pa.FixedSizeListArray.from_arrays(pa.array(qvecs.reshape(-1)), dim)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_q, dtype=np.int64)),
        "batch": pa.array(np.repeat(np.arange(batches), batch_queries)),
        "embedding": qflat.cast(pa.list_(pa.float64())),
    }), q_path)
    return {
        "base": base_dir,
        "arrivals": arrivals_dir,
        "queries": q_path,
        "rows": vectors + n_q,
        "bytes": tree_bytes(base_dir) + tree_bytes(arrivals_dir) + tree_bytes(q_path),
        # exact-recall reference data, kept on the benchmark side only
        "_base_ids": ids[~held],
        "_base_vecs": vecs[~held],
        "_all_ids": ids,
        "_all_vecs": vecs,
        "_queries": qvecs,
    }
